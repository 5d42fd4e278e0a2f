"""The persisted-store protocol shared by every corpus store family.

A STORE is a directory of parquet relations that amortizes corpus-side
state across batches: the batch is tokenized / decoded / embedded, the
corpus side is read only from the store.  The families keep their
kernels, their relation layout, their merge or compaction law and
their probes; this module owns everything else, so every family gets
the same identity, crash-safety and lock behaviour.

Layout per kind (``<relation>`` sub-directories; ``.`` = the store
root is itself the one relation):

==============  ==========================================  ==========
kind            relations                                   module
==============  ==========================================  ==========
``sig``         ``.`` (doc_id, MinHash signature)           dedup
``substrgrams`` ``.`` (h, n_occ) 5-gram occurrence counts   dedup
``curation``    ``eval_grams``, ``boiler_grams``, ``vocab``, curation
                ``totals``, ``doc_ids`` (fold ledger)
``annidx``      ``grid``, ``centroids``, ``codes``          similarity
``phash``,      ``hashes`` (media_id, phash),               multimodal
``afp``,        ``buckets_k{k}`` (b, slice, n, rep, rep_ph)
``vhash``       bucket partials keyed by the Hamming radius
``thash``       the same two relations with a ``slot``      multimodal
                column in both
==============  ==========================================  ==========

Verbs:

- :func:`publish_store` builds a NEW store into a private sibling
  directory and renames it into place, so no reader can ever see a
  partial store and a build that raises leaves nothing at the target.
  An existing store wins (publishing is idempotent per path; fixture
  stores are keyed by :func:`fixture_store`).
- :func:`append_store` appends a batch's rows to some relations of an
  existing store under the SHARED lock.
- :func:`rewrite_store` replaces a store by a law over a snapshot of
  its relations (compaction, eviction, the curation fold) under the
  EXCLUSIVE lock, which spans snapshot, build and swap
  (:func:`replace_store`).

Lock rules (:func:`store_lock`): only writers lock.  Appends of
distinct batches commute, so they share the lock; a rewrite excludes
every append, because an append landing between the rewrite's
snapshot and its swap would be silently destroyed by the swap (a lost
update).  Readers never lock: a probe racing a swap dies with a
missing-input error and the streaming layer retries with a fresh
listing.

Fixture stores live under ONE per-user root created with mode 0700
(``$XDG_CACHE_HOME`` or ``~/.cache``, falling back to a uid-suffixed
tempdir when no home exists); the root is verified to be an owned,
non-symlink, 0700 directory on every call, so a directory pre-created
by another user raises instead of being trusted.  Each store is
``<kind>_<ident>``; resolving one EVICTS the oldest other
``<kind>_*`` entries past a small keep bound, so stale fixture
identities age out while the few live fixture scales keep their
stores.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import os
import shutil
import stat
import tempfile


@contextlib.contextmanager
def store_lock(target: str, exclusive: bool = True):
    """Advisory lock serializing store MUTATIONS (never reads): appends
    take it shared, rewrites exclusively (see the module docstring).

    flock scopes to one host (this repo's execution shape); a
    multi-writer cluster deployment would swap this for its
    coordinator's lease — the lock POINT (around mutations, not
    reads) is the design, not the flock syscall."""
    lockpath = target.rstrip("/") + ".lock"
    os.makedirs(os.path.dirname(lockpath) or ".", exist_ok=True)
    fd = os.open(lockpath, os.O_CREAT | os.O_RDWR, 0o600)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX if exclusive else fcntl.LOCK_SH)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _relation_path(store: str, name: str) -> str:
    """Path of relation ``name`` of ``store`` ("" = the root)."""
    return f"{store}/{name}" if name else store


def write_relations(store: str, relations: dict,
                    mode: str = "errorifexists") -> None:
    """Write ``{name: DataFrame}`` into the store layout."""
    for name, df in relations.items():
        df.write.mode(mode).parquet(_relation_path(store, name))


def _user_cache_root() -> str:
    """The per-user store root, created 0700 and verified safe."""
    base = os.environ.get("XDG_CACHE_HOME")
    if not base:
        home = os.path.expanduser("~")
        if home and home != "~" and os.path.isdir(home):
            base = os.path.join(home, ".cache")
        else:
            # no usable home: uid-suffix under tempdir keeps the path
            # per-user; the 0700 + ownership check below still guards
            # against pre-creation by someone else
            base = os.path.join(tempfile.gettempdir(),
                                f"hb_cache_uid{os.getuid()}")
    root = os.path.join(base, "harbourbridge_spark", "stores")
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.lstat(root)
    if stat.S_ISLNK(st.st_mode) or not stat.S_ISDIR(st.st_mode):
        raise RuntimeError(f"store cache root {root} is not a "
                           "directory (symlink attack?)")
    if st.st_uid != os.getuid():
        raise RuntimeError(f"store cache root {root} is owned by "
                           f"uid {st.st_uid}, not us")
    if st.st_mode & 0o077:
        os.chmod(root, 0o700)
    return root


_KEEP_PER_KIND = 3           # other-identity stores kept (newest)


def store_path(kind: str, ident: str) -> str:
    """Path for the ``(kind, ident)`` store; evicts all but the
    newest ``_KEEP_PER_KIND`` OTHER ``<kind>_*`` entries (stale
    fixture identities age out; concurrent live scales survive).
    Does not create the store itself — build it with
    :func:`publish_store`."""
    root = _user_cache_root()
    name = f"{kind}_{ident}"
    others = []
    for entry in os.listdir(root):
        if entry.startswith(f"{kind}_") and entry != name \
                and not entry.endswith(".tmp"):
            p = os.path.join(root, entry)
            try:
                others.append((os.stat(p).st_mtime_ns, p))
            except OSError:
                continue
    others.sort(reverse=True)
    for _, p in others[_KEEP_PER_KIND:]:
        shutil.rmtree(p, ignore_errors=True)
    return os.path.join(root, name)


def fixture_store(kind: str, src: str, *params) -> str:
    """Cache path of the ``kind`` store built from fixture file
    ``src`` with build parameters ``params``.  The identity is the
    fixture's FULL identity (absolute path + ns mtime + size), so two
    fixtures sharing a basename, or one regenerated within the same
    second, never collide; a version token among ``params``
    invalidates stores across kernel or layout generations."""
    st = os.stat(src)
    key = "|".join([os.path.abspath(src), str(st.st_mtime_ns),
                    str(st.st_size), *map(str, params)])
    return store_path(kind, hashlib.sha1(key.encode()).hexdigest()[:16])


def publish_store(target: str, build) -> None:
    """Run ``build(tmp_path)`` into a private sibling dir, then rename
    it to ``target`` — the exists-check can never observe a partial
    store, a build that raises leaves nothing behind, and losing a
    rename race to a concurrent builder is fine (the winner built
    the same content from the same input).  An existing store wins:
    ``build`` is not called."""
    if os.path.exists(target):
        return
    parent = os.path.dirname(os.path.abspath(target))
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=os.path.basename(target) + ".",
                           suffix=".tmp", dir=parent)
    try:
        built = os.path.join(tmp, "store")
        build(built)
        try:
            os.rename(built, target)
        except OSError:
            if not os.path.exists(target):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def append_store(target: str, relations: dict) -> None:
    """Append ``{name: DataFrame}`` to an existing store under the
    SHARED lock.  Lazy frames compute inside the lock, so a rewrite
    can never snapshot the store between their compute and their
    write."""
    with store_lock(target, exclusive=False):
        write_relations(target, relations, "append")


def replace_store(target: str, build) -> None:
    """Swap in a REPLACEMENT for an existing store: under the store's
    EXCLUSIVE lock, ``build(tmp_path)`` snapshots ``target`` and writes
    the replacement into a private sibling dir, then the swap renames
    old aside -> new in -> drops old.  Taking the snapshot INSIDE
    ``build`` is the contract: a snapshot taken before the lock could
    miss an append that the swap then destroys.  A reader that
    grabbed the old path keeps a consistent snapshot (the rename
    doesn't disturb open handles on POSIX); a crash between the two
    renames leaves the ``.old.<pid>`` directory behind for manual
    recovery rather than a half-written store.

    On an object store / HDFS deployment the two renames map to the
    FileSystem.rename metadata operation; the pattern is unchanged."""
    target = os.path.abspath(target)
    parent = os.path.dirname(target)
    with store_lock(target, exclusive=True):
        tmp = tempfile.mkdtemp(prefix=os.path.basename(target) + ".",
                               suffix=".tmp", dir=parent)
        old = os.path.join(
            parent, f"{os.path.basename(target)}.old.{os.getpid()}")
        try:
            built = os.path.join(tmp, "store")
            build(built)
            os.rename(target, old)
            try:
                os.rename(built, target)
            except OSError:
                os.rename(old, target)          # roll the swap back
                raise
            shutil.rmtree(old, ignore_errors=True)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


def rewrite_store(spark, target: str, names, law) -> dict:
    """Replace the store by ``law(snapshot)``: ``snapshot`` maps each
    relation in ``names`` to a DataFrame over its current files, and
    the law returns the replacement relations ``{name: DataFrame}``
    (the whole layout).  Runs under :func:`replace_store`'s exclusive
    lock, so no append can land between the snapshot and the swap.
    Returns ``{name: {files_before, files_after}}``."""
    stats = {}

    def build(tmp: str) -> None:
        snap = {n: spark.read.parquet(_relation_path(target, n))
                for n in names}
        for n, df in snap.items():
            stats[n] = {"files_before": len(df.inputFiles())}
        write_relations(tmp, law(snap))

    replace_store(target, build)
    for n, s in stats.items():
        s["files_after"] = len(spark.read.parquet(
            _relation_path(target, n)).inputFiles())
    return stats
