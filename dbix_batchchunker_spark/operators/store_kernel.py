"""The persisted-store kernel: the crash machinery the gram postings store
(``gram_store.py``) and the persisted embedding store (``similarity.py``)
share. The reference gets crash safety from one database transaction per
chunk (BatchChunker.pm:1305-1327); Spark file writes have none, so both
stores build it from the same pieces, all routed through the Hadoop
FileSystem of the path's own scheme (file://, hdfs://, s3a://) and never
through driver-local ``os`` IO:

* a maintenance LEASE file ``<path>__maintenance_lease``
  (:class:`StoreLease`), created create-if-absent;
* in-progress writer MARKERS (:func:`writer_marker`) that a lease holder
  lists before it drops anything;
* small SIDECAR files — watermarks, counts — written aside and renamed
  in (:func:`write_sidecar`) and read back by :func:`read_sidecar`;
* the ``<dir>__next`` / ``<dir>__old`` rename SWAP of a rewritten
  directory (:func:`swap_in`) and its roll-forward/roll-back repair
  (:func:`repair_swap`).

Lease guarantee, per scheme (stated here once; every store points here):

* **hdfs://** — ``createNewFile`` is an atomic NameNode create-if-absent:
  two maintainers cannot both win, and with the writer markers an
  in-flight writer is seen before anything is dropped.
* **file://** — check-then-create inside one JVM call: safe for every
  single-host interleaving, racy only across hosts sharing NFS.
* **object stores declaring ``fs.capability.conditional.create``** (s3a
  on Hadoop 3.4.1+ with conditional writes enabled) — atomic: the
  acquire is a conditional PUT (If-None-Match), so exactly one of two
  racing maintainers wins even over eventually-visible listings.
* **other object stores** — check-then-create over eventually-visible
  listings: best-effort. The lease turns the silent-corruption race into
  a loud refusal in every interleaving where the PUT is visible before
  the rival's existence check, but cannot close the window. Deployments
  that run maintenance from several jobs on such stores must wrap it in
  an external lock (a DynamoDB/ZooKeeper mutex or the scheduler's own
  mutual exclusion); the lease is then defence in depth. Writer markers
  carry the same caveat there.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

#: Hadoop path-capability string a FileSystem declares when its
#: create-if-absent is a CONDITIONAL WRITE (s3a on Hadoop 3.4.1+ with
#: conditional creates enabled: PUT If-None-Match — atomic even on the
#: object store where plain createNewFile is check-then-create).
CONDITIONAL_CREATE_CAPABILITY = "fs.capability.conditional.create"


def _store_fs(spark, path: str):
    """(FileSystem, Path) for ``path`` through its own scheme's Hadoop
    FileSystem, so every store behaves the same on file://, hdfs:// and
    s3a:// (driver-local ``open``/``isdir`` would work only for paths on
    the driver's disk)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def delete_path(spark, path: str) -> None:
    """Delete ``path`` (recursively) if it exists."""
    fs, jp = _store_fs(spark, path)
    if fs.exists(jp):
        fs.delete(jp, True)


def _atomic_create_if_absent(fs, jp) -> bool:
    """Create-if-absent through the strongest primitive the FileSystem
    declares (guarantee per scheme: module docstring). Connectors
    declaring ``fs.capability.conditional.create`` get the builder create
    with ``overwrite(False)`` — a conditional PUT on s3a, whose loser
    surfaces as FileAlreadyExists/RemoteFileChanged at build or close.
    Everything else falls back to ``createNewFile``. Returns True when
    this caller created the file, False when a rival already holds it;
    any OTHER IO failure re-raises — a network error must not masquerade
    as 'lease held'. The loser is classified by walking the Java
    exception AND its causes (s3a wraps FileAlreadyExists/
    RemoteFileChanged inside translated wrappers); a transient failure
    AFTER the PUT materialized can still leave an orphan lease the
    caller must ``break_lease()`` — the safe direction (the acquire
    errors rather than reporting 'held')."""
    try:
        conditional = bool(
            fs.hasPathCapability(jp, CONDITIONAL_CREATE_CAPABILITY)
        )
    except Exception:  # noqa: BLE001 — FS predating the probe API
        conditional = False
    if not conditional:
        return bool(fs.createNewFile(jp))
    try:
        out = fs.createFile(jp).overwrite(False).build()
        try:
            out.write(bytearray(b"lease"))
        finally:
            out.close()
        return True
    except Exception as e:  # noqa: BLE001 — split on the Java class below
        je = getattr(e, "java_exception", None)
        names = []
        seen = 0
        while je is not None and seen < 8:  # bounded cause walk
            names.append(je.getClass().getName())
            je = je.getCause()
            seen += 1
        if any(
            "FileAlreadyExistsException" in name
            or "PathExistsException" in name
            or "RemoteFileChangedException" in name
            for name in names
        ):
            return False  # the rival's conditional create won
        raise


class StoreMaintenanceLockError(RuntimeError):
    """A writer or a maintainer refused to run because the other side of
    the maintenance handshake is live: writers refuse while the lease is
    held (a compact or save is in flight — or crashed without
    releasing), and a gram-store compact refuses while any writer's
    in-progress MARKER is live. Raised LOUDLY instead of corrupting
    silently: a write that lands between a compact's read and its swap
    or partition drops is folded-then-dropped (data loss) or
    cleared-unfolded (lost tombstone). A lease or marker left by a
    CRASHED holder is broken explicitly with ``break_lease()`` (or the
    gram store's ``compact(force=True)``) once the operator confirms no
    holder is live — the same crash-repair flow as re-running the
    maintenance itself."""


class StoreLease:
    """The maintenance lease of the persisted store at ``path``: the file
    ``<path>__maintenance_lease``, created by
    :func:`_atomic_create_if_absent` (guarantee per scheme: module
    docstring). ``held`` is True only on the object that acquired it, so
    the holder's own writes run reentrantly while every other writer
    refuses (:meth:`refuse_if_foreign`). Usable as a context manager::

        with StoreLease(spark, path) as lease:
            ...  # maintenance; pass ``lease`` to reentrant writers

    A lease left by a crashed holder is cleared with :meth:`break_lease`
    once the operator confirms the holder is dead."""

    def __init__(self, spark, path: str) -> None:
        self.spark = spark
        self.path = path
        self.lease_path = path.rstrip("/") + "__maintenance_lease"
        self.held = False

    def acquire(self) -> "StoreLease":
        fs, jp = _store_fs(self.spark, self.lease_path)
        if not _atomic_create_if_absent(fs, jp):
            raise StoreMaintenanceLockError(
                f"maintenance lease already held for {self.path} "
                f"({self.lease_path}); a compact or save is in flight or "
                "crashed — break_lease() after confirming no holder is "
                "live"
            )
        self.held = True
        return self

    def release(self) -> None:
        """No-op unless held: ``release()`` is public API, so calling it
        on a lease object that never acquired must NOT delete a FOREIGN
        maintainer's live lease file (that deliberate override is
        :meth:`break_lease`)."""
        if self.held:
            self.break_lease()

    def break_lease(self) -> None:
        """Crash repair: delete the lease file REGARDLESS of who created
        it — the operator's responsibility is confirming the holder is
        gone (the single-writer discipline the reference's maintenance
        windows assume, BatchChunker.pm:70-178)."""
        self.held = False
        delete_path(self.spark, self.lease_path)

    def refuse_if_foreign(self, op: str) -> None:
        """Raise while ANOTHER holder's lease file exists (one metadata
        RPC, no job); the holder itself passes."""
        if self.held:
            return
        fs, jp = _store_fs(self.spark, self.lease_path)
        if fs.exists(jp):
            raise StoreMaintenanceLockError(
                f"{op} refused: maintenance lease held for {self.path} "
                f"({self.lease_path}) — a compact or save is running; "
                "retry after it finishes (or break_lease() if it crashed)"
            )

    def __enter__(self) -> "StoreLease":
        return self.acquire()

    def __exit__(self, *exc) -> None:
        self.release()


def _drop_file(fs, jp) -> None:
    if fs.exists(jp):
        fs.delete(jp, False)


@contextmanager
def writer_marker(spark, writers_path: str, check, keep_on_error=False):
    """Hold one in-progress marker file under ``writers_path`` for the
    block — the writer half of the lease handshake. The marker lands
    FIRST, then ``check()`` (the caller's lease check) runs; a maintainer
    acquires the lease first and then lists the markers. Under either
    interleaving one side sees the other (on FileSystems with immediate
    namespace visibility; see the module docstring for object stores).
    A refused start removes the marker: nothing was written.

    ``keep_on_error`` makes the marker's lifetime fail-safe: only a clean
    exit removes it. A multi-chunk run that raised has committed chunks
    needing repair, so its marker stays and maintenance keeps refusing
    until the operator repairs and runs ``break_lease()``. Cost: three
    metadata RPCs to enter, two to leave."""
    fs, jdir = _store_fs(spark, writers_path)
    if not fs.exists(jdir):
        fs.mkdirs(jdir)
    marker = spark._jvm.org.apache.hadoop.fs.Path(
        writers_path + "/" + uuid.uuid4().hex
    )
    fs.createNewFile(marker)
    try:
        check()
    except BaseException:
        _drop_file(fs, marker)
        raise
    try:
        yield
    except BaseException:
        if not keep_on_error:
            _drop_file(fs, marker)
        raise
    _drop_file(fs, marker)


def _checked_rename(fs, src, dst) -> None:
    """``FileSystem.rename`` returns False instead of raising on most
    failure modes (destination exists, source missing, cross-FS move); an
    unchecked False silently skips a swap step and leaves a store
    half-moved. Raise loudly instead."""
    if not fs.rename(src, dst):
        raise RuntimeError(
            f"filesystem rename failed: {src} -> {dst}; the source was "
            "left in place — inspect it and re-run"
        )


def write_file(spark, path: str, text: str) -> None:
    """Create (or truncate) ``path`` holding ``text``."""
    fs, jp = _store_fs(spark, path)
    out = fs.create(jp, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()


def write_sidecar(spark, path: str, value) -> None:
    """Replace the sidecar file ``path`` with ``str(value)``: write
    ``<path>__tmp`` aside, delete the old file, rename the new one in. A
    truncate-in-place write would leave a crash window with the file
    EMPTY; here a crash leaves the old value, the new value, or — between
    the delete and the rename — no file, a window each caller covers by
    what its live data witnesses (the stores' docstrings say how)."""
    fs, final = _store_fs(spark, path)
    write_file(spark, path + "__tmp", str(value))
    _drop_file(fs, final)
    _checked_rename(fs, _store_fs(spark, path + "__tmp")[1], final)


def read_sidecar(spark, path: str) -> "str | None":
    """The text of the small file ``path``, stripped, or None if absent."""
    fs, jp = _store_fs(spark, path)
    if not fs.exists(jp):
        return None
    stm = fs.open(jp)
    try:
        raw = bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stm)
        )
    finally:
        stm.close()
    return raw.decode().strip()


def read_int_sidecar(spark, path: str) -> "int | None":
    """An integer sidecar: None if absent or unparseable, 0 if empty."""
    text = read_sidecar(spark, path)
    try:
        return None if text is None else int(text or 0)
    except ValueError:
        return None


def _swap_paths(spark, live: str):
    fs, jlive = _store_fs(spark, live)
    jp = spark._jvm.org.apache.hadoop.fs.Path
    return fs, jlive, jp(live + "__next"), jp(live + "__old")


def swap_in(spark, live: str) -> None:
    """Replace directory ``live`` with ``<live>__next``, which the caller
    has FULLY written: ``rename(live, __old); rename(__next, live);
    delete(__old)``. A leftover ``__old`` from an earlier crash is
    cleared first. Every rename is checked, so a failed move raises
    instead of silently skipping a step; a crash between the two renames
    leaves ``live`` absent, which :func:`repair_swap` converges."""
    fs, jlive, nxt, old = _swap_paths(spark, live)
    if fs.exists(old):
        fs.delete(old, True)
    _checked_rename(fs, jlive, old)
    _checked_rename(fs, nxt, jlive)
    fs.delete(old, True)


def repair_swap(spark, live: str) -> None:
    """Converge a :func:`swap_in` that crashed between its two renames,
    leaving ``live`` ABSENT with the data in ``__old`` / ``__next``. Run
    under the store's lease. When ``live`` is missing:

    - ``__next`` present: it was fully written before any rename moved
      (the swap's ordering invariant), so roll FORWARD —
      ``rename(__next, live)`` completes the crashed swap exactly;
    - only ``__old`` present: roll BACK — ``rename(__old, live)``
      restores the pre-swap directory (a re-run of the maintenance
      redoes it).

    A ``live`` that exists needs no repair: a leftover ``__next`` is
    overwritten by the next write-aside, a leftover ``__old`` (crash
    between ``rename(__next, live)`` and the delete) is cleared by the
    next swap."""
    fs, jlive, nxt, old = _swap_paths(spark, live)
    if fs.exists(jlive):
        return
    if fs.exists(nxt):
        _checked_rename(fs, nxt, jlive)
        if fs.exists(old):
            fs.delete(old, True)
    elif fs.exists(old):
        _checked_rename(fs, old, jlive)
