"""The storage substrate every persisted store is built on.

One implementation of each crash-safety mechanism, shared by the KV
store (overlay, WAL, generations, indexes, snapshots), the text index,
the band/IVF/PQ/residual vector stores, the sketch stores, continuous
aggregates and materialized views. The reference gave its index writers
one write lock (a Redis ``LockFactory``, ``RedisLockFactory.kt:16-41``);
a file-backed store gets the same guarantees from four primitives:

* :func:`lock` — an ``O_EXCL``-created lock file recording the holder
  pid; fails fast (``timeout_s=0``) or blocks up to a timeout, then
  raises :class:`LockConflict`. A crashed holder's lock is never stolen
  on age; :func:`break_lock` clears it, and refuses while the recorded
  holder is still alive on this host.
* :func:`publish` — staged write, then ONE atomic rename onto the final
  name, for a file or a directory. Readers see the old object or the
  new one, never a torn one.
* :func:`claim` — exclusive creation of a name (WAL sequence numbers,
  applied-generation marks, index catalog entries): the losing side of
  a race learns it lost instead of overwriting.
* :func:`build_once` — marker-checked staged build published by one
  rename under a fingerprinted temp root (:func:`fingerprint_root`);
  concurrent builders never see a half-built tree.

Helpers sit beside them: :func:`read_pointer` / :func:`write_pointer`
(and their ``layout.json`` forms) for the small JSON pointer files that
name a store's live generation; :func:`read_pinned`, which memoizes
what a reader parsed from a published file (below);
:func:`sweep_orphans`, which a writer runs under its lock to remove
never-published generation dirs and torn staging left by a crash, and
:func:`drop_dirs`, the deferred GC of
superseded generations; :func:`writer_lock`, the fail-fast lock every
substrate store keeps at its root; and :class:`LRUCache`, the bounded
in-process cache readers keep decoded immutable objects in.

Staging-name rule: staging for ``<dir>/<name>`` is
``<dir>/_tmp.<name>.<uuid8>``. The ``_`` prefix hides it from Spark's
and pyarrow's directory listings; the uuid makes it unique per process
and attempt; and it never ends with the final name's suffix, so suffix
parsers (the WAL's ``*.parquet`` sequence listing) skip it. One glob,
``_tmp.*``, matches every torn staging object.

Pinned reads: a file published by rename is immutable under its
inode, so what a reader parsed from it stays true while the path still
names that inode. :func:`read_pinned` keeps the parsed value with an
open descriptor on the inode it parsed, and validates it with one
``os.stat`` per call: same device, inode, size and mtime means the same
bytes. The held descriptor is what makes that exact: while it is open
the kernel cannot reuse the inode number, so a republish — even one of
the same size inside one mtime tick — always shows as a new inode.
:func:`publish` writes through: given ``pin=value``, it opens the
STAGING file before the rename and pins that inode with the value the
writer already holds, so the read after a publish is warm too, and a
racing publisher can only cause a miss, never a wrong pin. The
invariant holds only for files that are replaced by rename and never
rewritten in place (size and mtime catch most in-place rewrites, but
nothing promises it). Scope: local POSIX file systems; on shared
storage a stat is as coherent as the mount makes it. The table holds
at most :data:`PIN_LIMIT` files; eviction closes the descriptor, a
missing path drops its pin, and parsed values are shared, so ``parse``
must return an immutable value (or callers copy it).

Flush policy: nothing here calls ``fsync`` yet. :func:`publish` is the
one place a durable publish (fsync the staged bytes, rename, fsync the
parent directory) goes, and :func:`claim` the one place a durable
claim goes.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import shutil
import tempfile
import threading
import time
import uuid
from collections import OrderedDict
from typing import Optional

#: the generation pointer file every substrate store keeps at its root
LAYOUT = "layout.json"

#: the fail-fast writer lock every substrate store keeps at its root
WRITER_LOCK = "writer.lock"

#: glob matching every staging object :func:`staging_path` names
STAGING_GLOB = "_tmp.*"

#: most files :func:`read_pinned` holds open at once
PIN_LIMIT = 256


class LockConflict(RuntimeError):
    """A writer could not take a store lock within its timeout. Another
    writer is live (retry after it finishes) or crashed holding the
    lock (verify no writer is alive, then break the lock)."""


# --- lock ----------------------------------------------------------------


@contextlib.contextmanager
def lock(path: str, timeout_s: float = 0.0, what: str = "store",
         breaker: str = "break_writer_lock"):
    """Hold the ``O_EXCL`` lock file ``path`` for the ``with`` body.

    ``timeout_s=0`` fails fast; a positive timeout polls until the
    deadline. Past it, :class:`LockConflict` names ``what`` and the
    ``breaker`` function that clears a crashed holder. The holder pid is
    written (and the fd closed) inside the guard, so a failed write
    leaks neither the fd nor the lock file; the lock is unlinked on
    every exit path."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            if time.monotonic() >= deadline:
                raise LockConflict(
                    f"{what} {path}: another writer holds the lock — retry "
                    f"after it finishes ({breaker} clears a crashed one)"
                ) from None
            time.sleep(0.01)
    try:
        try:
            os.write(fd, str(os.getpid()).encode())
        finally:
            os.close(fd)
        yield
    finally:
        try:
            os.unlink(path)
        except OSError:
            pass


def lock_holder_alive(path: str) -> Optional[int]:
    """The pid recorded in lock file ``path`` if that process still
    exists on THIS host, else None (missing file, unparseable content,
    or dead pid). Same-host only: a lock written by another machine
    reads as not alive, so breaking it stays an operator judgement."""
    try:
        with open(path, "rb") as f:
            pid = int(f.read().strip() or b"0")
    except (OSError, ValueError):
        return None
    if pid <= 0:
        return None
    try:
        os.kill(pid, 0)  # signal 0: existence check, no signal sent
    except ProcessLookupError:
        return None
    except PermissionError:
        return pid  # exists, owned by someone else
    return pid


def break_lock(path: str, force: bool = False, what: str = "store") -> None:
    """Clear a crashed writer's lock file. Refused while the recorded
    holder pid is alive on this host — breaking a live writer's lock
    recreates the race the lock closes; pass ``force=True`` after
    verifying the pid is a coincidental reuse."""
    if not force:
        pid = lock_holder_alive(path)
        if pid is not None:
            raise LockConflict(
                f"{what} lock {path}: recorded holder pid {pid} is still "
                "alive on this host — refusing to break a live writer's "
                "lock (verify it is a stale pid reuse, then pass force=True)"
            )
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


def writer_lock(root: str):
    """The fail-fast writer lock of a substrate store rooted at
    ``root`` (``<root>/writer.lock``), held for a whole append,
    compaction or retrain."""
    os.makedirs(root, exist_ok=True)
    return lock(os.path.join(root, WRITER_LOCK))


def break_writer_lock(root: str, force: bool = False) -> None:
    """:func:`break_lock` for the store writer lock at ``root``."""
    break_lock(os.path.join(root, WRITER_LOCK), force)


# --- publish and claim ---------------------------------------------------


def staging_path(final: str) -> str:
    """Staging name for ``final`` under the module's staging-name rule."""
    head, name = os.path.split(final)
    return os.path.join(head, f"_tmp.{name}.{uuid.uuid4().hex[:8]}")


def _discard(path: str) -> None:
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass


_ABSENT = object()


@contextlib.contextmanager
def publish(final: str, pin=_ABSENT):
    """Yield a staging path; when the ``with`` body completes, rename
    it onto ``final`` in one atomic step. The body writes a file or
    creates a directory there. On any error the staging object is
    removed. Publishing a directory onto an existing non-empty one
    raises ``OSError`` — the loser of a publish race finds out.

    With ``pin``, the published file is pinned for :func:`read_pinned`
    with ``pin`` as its parsed value (write-through): the descriptor
    is opened on the staging file before the rename, never on
    ``final`` after it, so a publish racing this one leaves a pin the
    next read finds stale, never one it takes for current."""
    staging = staging_path(final)
    try:
        yield staging
        fd = None if pin is _ABSENT else os.open(staging, os.O_RDONLY)
        try:
            os.replace(staging, final)
        except BaseException:
            if fd is not None:
                os.close(fd)
            raise
    except BaseException:
        _discard(staging)
        raise
    if fd is not None:
        _pin(final, fd, pin)


# --- pinned reads --------------------------------------------------------

#: path -> (held fd, identity of the inode it holds, parsed value)
_PINS: OrderedDict = OrderedDict()
_PINS_LOCK = threading.Lock()


def _ident(st) -> tuple:
    return st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns


def _pin(path: str, fd: int, value) -> None:
    """Pin ``value`` as the parse of the inode ``fd`` holds, under
    ``path``; closes the descriptors it replaces or evicts."""
    entry = (fd, _ident(os.fstat(fd)), value)
    with _PINS_LOCK:
        old = _PINS.pop(path, None)
        _PINS[path] = entry
        drop = [old] if old is not None else []
        while len(_PINS) > PIN_LIMIT:
            drop.append(_PINS.popitem(last=False)[1])
    for held, _, _ in drop:
        os.close(held)


def _unpin(path: str) -> None:
    with _PINS_LOCK:
        old = _PINS.pop(path, None)
    if old is not None:
        os.close(old[0])


def read_pinned(path: str, parse):
    """``parse(f)`` of the file at ``path`` (``f`` open for binary
    reading), memoized while ``path`` names the inode that was parsed
    — see "Pinned reads" above. A warm call is one ``os.stat``. A
    missing file raises ``FileNotFoundError`` and drops its pin. Only
    for files published by rename (:func:`publish`)."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        _unpin(path)
        raise
    with _PINS_LOCK:
        hit = _PINS.get(path)
        if hit is not None and hit[1] == _ident(st):
            _PINS.move_to_end(path)
            return hit[2]
    fd = os.open(path, os.O_RDONLY)
    try:
        with open(fd, "rb", closefd=False) as f:
            value = parse(f)
    except BaseException:
        os.close(fd)
        raise
    _pin(path, fd, value)
    return value


def claim(path: str, write=None) -> bool:
    """Exclusively create ``path``; False when the name is taken.

    Without ``write`` the claim is an empty file. With it,
    ``write(staging)`` writes the full content first and the claim
    hard-links it into place, so no reader ever sees the name without
    its content. The staging file is removed either way."""
    if write is None:
        try:
            os.close(os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        except FileExistsError:
            return False
        return True
    staging = staging_path(path)
    try:
        write(staging)
        try:
            os.link(staging, path)
        except FileExistsError:
            return False
        return True
    finally:
        try:
            os.unlink(staging)
        except FileNotFoundError:
            pass


# --- pointers ------------------------------------------------------------


def layout_path(root: str) -> str:
    return os.path.join(root, LAYOUT)


def _read_text(f) -> str:
    return f.read().decode()


def read_pointer(path: str, default=_ABSENT, kind: tuple | None = None):
    """One snapshot of a JSON pointer file, a fresh dict per call; the
    file's text is pinned (:func:`read_pinned`), so a warm read opens
    nothing. Resolve it ONCE per operation and thread it through:
    resolving twice races a concurrent publish. An absent file returns
    ``default`` (or raises ``FileNotFoundError`` when none is given);
    unparsable content raises ``ValueError``. ``kind=(tag, name)``
    guards against running one store family's maintenance on another's
    root: the pointer's ``kind`` field must equal ``tag`` (a pointer
    without the field reads as ``"pq"``, the one family that predates
    it), else ``ValueError`` naming the store as a ``name`` store."""
    try:
        ptr = json.loads(read_pinned(path, _read_text))
    except FileNotFoundError:
        if default is _ABSENT:
            raise
        return default
    if kind is not None and ptr.get("kind", "pq") != kind[0]:
        raise ValueError(
            f"{os.path.dirname(path)} is a {ptr.get('kind', 'pq')!r} store, "
            f"not a {kind[1]} store"
        )
    return ptr


def write_pointer(path: str, ptr: dict) -> None:
    """Publish a JSON pointer file (:func:`publish`), pinned with the
    text it wrote."""
    text = json.dumps(ptr)
    with publish(path, pin=text) as staging:
        with open(staging, "w") as f:
            f.write(text)


def read_layout(root: str, default=_ABSENT, kind: tuple | None = None):
    """:func:`read_pointer` of the ``layout.json`` at a store root."""
    return read_pointer(layout_path(root), default, kind)


def write_layout(root: str, layout: dict) -> None:
    """:func:`write_pointer` of the ``layout.json`` at a store root."""
    write_pointer(layout_path(root), layout)


def sweep_orphans(root: str, patterns, referenced) -> None:
    """Run by a writer under its lock, before it writes: remove the
    generation dirs under ``root`` matching any glob in ``patterns``
    that ``referenced`` (the live pointer's dirs plus its deferred-GC
    retention list) does not name — leftovers of a run that crashed
    before its pointer publish — and every torn staging object."""
    for pattern in patterns:
        for d in glob.glob(os.path.join(root, pattern)):
            if os.path.basename(d) not in referenced:
                shutil.rmtree(d, ignore_errors=True)
    for p in glob.glob(os.path.join(root, STAGING_GLOB)):
        _discard(p)


def drop_dirs(root: str, names) -> None:
    """Deferred GC: remove superseded generation dirs under ``root``."""
    for d in names:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)


# --- build once ----------------------------------------------------------


def fingerprint_root(kind: str, src: str, tag: str) -> str:
    """Per-user temp location of a store derived from file ``src``:
    keyed by the file's identity (real path, mtime, size) and ``tag``
    (layout version, build parameters), so a regenerated source or a
    changed build gets a fresh root instead of serving a stale one."""
    src = os.path.realpath(src)
    st = os.stat(src)
    fp = hashlib.sha256(
        f"{src}|{st.st_mtime_ns}|{st.st_size}|{tag}".encode()
    ).hexdigest()[:16]
    uid = getattr(os, "getuid", lambda: 0)()
    return os.path.join(tempfile.gettempdir(), f"kt_sql_{kind}_u{uid}", fp)


def build_once(base: str, build_fn) -> str:
    """Return ``base``, building it first if its ``_SUCCESS`` marker is
    absent: ``build_fn(staging)`` fills a staging dir, the marker is
    stamped, and one atomic rename publishes it. A builder that loses
    the publish race discards its staging and serves the winner's
    build, which is identical (builds are deterministic)."""
    marker = os.path.join(base, "_SUCCESS")
    if os.path.exists(marker):
        return base
    os.makedirs(os.path.dirname(base), exist_ok=True)
    try:
        with publish(base) as staging:
            build_fn(staging)
            os.makedirs(staging, exist_ok=True)
            open(os.path.join(staging, "_SUCCESS"), "w").close()
    except OSError:
        # the rename onto a base another builder published meanwhile
        if not os.path.exists(marker):
            raise
    return base


# --- read cache ----------------------------------------------------------


class LRUCache:
    """A bounded, thread-safe least-recently-used cache charged in
    approximate bytes. The caller keys each entry by an identity that
    changes whenever the cached object could (a publish token, an
    immutable generation dir), so entries are never invalidated in
    place, only replaced, dropped or evicted. An entry larger than the
    whole budget is not kept. Values are shared: callers copy before
    handing anything mutable out."""

    def __init__(self, budget: int) -> None:
        self.budget = budget
        self._entries: OrderedDict = OrderedDict()  # key -> (value, nbytes)
        self._used = 0
        self._lock = threading.Lock()

    def get(self, key, default=None):
        with self._lock:
            hit = self._entries.get(key)
            if hit is None:
                return default
            self._entries.move_to_end(key)
            return hit[0]

    def put(self, key, value, nbytes: int) -> None:
        with self._lock:
            old = self._entries.pop(key, None)
            if old is not None:
                self._used -= old[1]
            if nbytes > self.budget:
                return
            self._entries[key] = (value, nbytes)
            self._used += nbytes
            while self._used > self.budget:
                _, (_, n) = self._entries.popitem(last=False)
                self._used -= n

    def pop(self, key) -> None:
        with self._lock:
            old = self._entries.pop(key, None)
            if old is not None:
                self._used -= old[1]

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()
            self._used = 0

    def __len__(self) -> int:
        return len(self._entries)

    @property
    def used(self) -> int:
        """Bytes charged by the entries held now."""
        return self._used
