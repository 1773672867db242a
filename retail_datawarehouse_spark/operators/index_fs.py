"""Index storage COORDINATORS (r11; r10 verdict #6): the stored IVF
index's control plane — pointer reads, atomic commits, generation
listings, staging markers, and the maintenance lock — behind one
injectable object, so an object-store deployment can supply its own
semantics without forking the maintenance protocol.

Cite: the protocol itself is ``operators/ann_index.py``'s generation
machinery (reserve → bulk write → locked fold + pointer flip). What
varies by storage is only HOW those ~10 small operations execute:

- ``PosixCoordinator`` (the default everywhere): byte-identical to the
  pre-r11 inlined code — ``O_EXCL`` lock file, ``fsync`` + POSIX
  ``rename`` pointer commit, ``glob`` listings. This is the
  local/NFS/fuse deployment and the semantics every concurrency test
  in ``tests/test_ann_index.py`` pins.
- ``ArrowFsCoordinator(filesystem)``: routes every operation through a
  ``pyarrow.fs.FileSystem`` (S3FileSystem, GcsFileSystem, fsspec via
  ``PyFileSystem``, or a ``SubTreeFileSystem`` — the rebased-path
  proxy the tests use); ``ivf_index_stats(filesystem=)`` wraps a bare
  filesystem in this class. ``spark_path_fn`` maps coordinator paths
  to paths Spark's Hadoop reader resolves (identity-under-root for
  SubTree; an ``s3a://``-prefixer on a real object store). The mapping
  runs one way only: the protocol lists files through the coordinator
  and hands Spark the mapped paths, and never maps a Spark path back.

Honesty on object-store semantics, stated here rather than discovered
in production: pyarrow exposes no create-exclusive, so
``ArrowFsCoordinator.lock`` is CHECK-THEN-CREATE — a best-effort
mutex, racy in the window between check and create. Likewise
``commit_pointer`` uses ``filesystem.move``, which is an atomic rename
on local/SubTree trees but copy+delete (non-atomic) on S3-class
stores. Single-writer object-store deployments are safe as-is;
MULTI-writer ones must subclass and back ``lock``/``commit_pointer``
with a real lease (DynamoDB/ZooKeeper/a table format's commit
protocol) — which is exactly the injection point this class exists to
provide. The default POSIX deployment inherits none of these caveats.

Small sidecars are written on the driver, not by Spark:
``publish_parquet`` lands one parquet file under a hidden tmp name and
renames it into place (the tombstone sidecar's commit),
``read_parquet`` reads a pinned listing back as one Arrow table, and
``footer_rows`` reads only the listed files' footers (the index's
per-cell rows, centroid count and tombstone debt).
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid
from contextlib import contextmanager


class LockLostError(RuntimeError):
    """A second writer overwrote this holder's ``MAINTENANCE.lock``
    while it was held (ADVICE r11 #3): the check-then-create lock is
    single-writer-safe by deployment contract, and before this error a
    misdeployed second writer would LOSE COMMITS silently — two
    maintainers both believing they held the lock, the later pointer
    flip clobbering the earlier. The holder-token re-read turns that
    misdeployment into this loud failure. Recovery is operational, not
    programmatic: the index may now hold both writers' staged output —
    audit CURRENT against the staged generations before trusting
    either, then fix the deployment (one writer, or a lease-backed
    coordinator subclass)."""


class PosixCoordinator:
    """Local-filesystem control plane — the default and the semantics
    the concurrency tests pin. Method bodies are the pre-r11 inlined
    code, moved verbatim."""

    # -- small predicates / metadata -------------------------------
    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path)

    def read_text(self, path: str) -> str | None:
        try:
            with open(path, "r", encoding="ascii") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def write_text(self, path: str, text: str) -> None:
        with open(path, "w", encoding="ascii") as f:
            f.write(text)

    def remove(self, path: str) -> None:
        os.unlink(path)

    def rmtree(self, path: str, ignore_errors: bool = False) -> None:
        shutil.rmtree(path, ignore_errors=ignore_errors)

    # -- listings ---------------------------------------------------
    def list_gen_dirs(self, index_dir: str) -> list[str]:
        # directories only (r12 contract kit): the ArrowFs twin always
        # filtered to FileType.Directory; a stray FILE named gen-* was
        # harmless on the reservation path (numbers may skip) but made
        # the two coordinators disagree on the listing clause
        return sorted(
            p for p in glob.glob(f"{index_dir}/gen-*") if os.path.isdir(p)
        )

    def list_cell_files(self, cells_dir: str) -> set[str]:
        return set(glob.glob(f"{cells_dir}/cell=*/*.parquet"))

    def list_parquet_files(self, dir_path: str) -> set[str]:
        """Flat (non-recursive) committed-parquet listing — the
        tombstone sidecar's shape (r12). Spark job-commit debris
        (``_temporary``, ``_SUCCESS``) never matches the suffix or
        depth, same discipline as ``list_cell_files``."""
        return set(glob.glob(f"{dir_path}/*.parquet"))

    # -- driver-side parquet (the tombstone sidecar) ------------------
    def read_parquet(self, paths):
        """The listed parquet files as one ``pyarrow.Table`` (empty
        listing → None): a driver-side read of a small sidecar."""
        import pyarrow as pa

        if not paths:
            return None
        return pa.concat_tables([self._read_table(p) for p in sorted(paths)])

    def footer_rows(self, paths) -> dict[str, int]:
        """Row count of each listed parquet file, read from its footer
        alone (no data page): the index metadata the health panel, the
        maintenance sweep and the quantizer's K are summed from."""
        import pyarrow.parquet as pq

        return {p: pq.read_metadata(p).num_rows for p in paths}

    def publish_parquet(self, dir_path: str, table) -> str:
        """Write ``table`` as ONE new parquet file under ``dir_path``
        (created if missing) and return its path. The bytes go to a
        tmp name first — ``.``-prefixed, so Spark's file index skips it
        as hidden, and not ``.parquet``-suffixed, so no listing matches
        it — and are then renamed into place: a reader sees the whole
        file or nothing, and a crash before the rename leaves only
        invisible debris (removed with its generation)."""
        if not self.isdir(dir_path):
            self.makedirs(dir_path)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = f"{dir_path}/.{name}.tmp"
        self._write_parquet(tmp, table)
        self._move_into_place(tmp, f"{dir_path}/{name}")
        return f"{dir_path}/{name}"

    def _read_table(self, path: str):
        import pyarrow.parquet as pq

        return pq.read_table(path)

    def _write_parquet(self, path: str, table) -> None:
        import pyarrow.parquet as pq

        with open(path, "wb") as f:
            pq.write_table(table, f)
            f.flush()
            os.fsync(f.fileno())

    def _move_into_place(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    # -- the two protocol-critical ops ------------------------------
    def commit_pointer(self, index_dir: str, gen: int) -> None:
        """fsync a tmp pointer file, POSIX-rename it over CURRENT —
        the one atomic commit every maintenance op funnels through."""
        tmp = f"{index_dir}/CURRENT.tmp-{gen}"
        with open(tmp, "w", encoding="ascii") as f:
            f.write(str(gen))
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, f"{index_dir}/CURRENT")

    @contextmanager
    def lock(self, index_dir: str, timeout: float = 120.0):
        """POSIX ``O_EXCL`` mutual exclusion between index writers."""
        path = f"{index_dir}/MAINTENANCE.lock"
        deadline = time.monotonic() + timeout
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"could not acquire {path} within {timeout}s — a "
                        "crashed maintainer may have leaked it; remove "
                        "the file once no writer is live"
                    )
                time.sleep(0.05)
        try:
            yield
        finally:
            os.close(fd)
            os.unlink(path)

    # -- coordinator path -> Spark path -----------------------------
    def spark_path(self, path: str) -> str:
        return path


class ArrowFsCoordinator(PosixCoordinator):
    """Control plane over any ``pyarrow.fs.FileSystem``. ``index_dir``
    and every derived path are paths WITHIN that filesystem (e.g.
    ``bucket/prefix/index``). ``spark_path_fn`` maps them to what
    Spark's reader resolves — required unless the filesystem paths are
    directly Spark-readable. See the module docstring for the lock /
    pointer-commit semantics an S3-class deployment must override."""

    # write→confirm settle for the check-then-create lock (ADVICE r12
    # #2): long enough to let a racing writer's in-flight create land
    # before our confirm read on any realistic store round-trip.
    _LOCK_SETTLE = 0.05

    def __init__(self, filesystem, spark_path_fn=None):
        import pyarrow.fs as pafs

        self.fs = filesystem
        self._pafs = pafs
        self._spark_path_fn = spark_path_fn

    def _info(self, path: str):
        return self.fs.get_file_info(path)

    def exists(self, path: str) -> bool:
        return self._info(path).type != self._pafs.FileType.NotFound

    def isdir(self, path: str) -> bool:
        return self._info(path).type == self._pafs.FileType.Directory

    def makedirs(self, path: str) -> None:
        if self.isdir(path):
            raise FileExistsError(path)
        self.fs.create_dir(path, recursive=True)

    def read_text(self, path: str) -> str | None:
        if self._info(path).type != self._pafs.FileType.File:
            return None
        try:
            with self.fs.open_input_stream(path) as f:
                return f.read().decode("ascii")
        except FileNotFoundError:
            # TOCTOU under contention (r13, found by the conditional-put
            # schedule test): a peer RELEASING its lock/lease can delete
            # the file between the info check and the open — a waiting
            # acquirer polling read_text must see "not found" (and take
            # the now-free lock), not crash.
            return None

    def write_text(self, path: str, text: str) -> None:
        with self.fs.open_output_stream(path) as f:
            f.write(text.encode("ascii"))

    def remove(self, path: str) -> None:
        self.fs.delete_file(path)

    def rmtree(self, path: str, ignore_errors: bool = False) -> None:
        # shutil.rmtree(ignore_errors=True) swallows EVERYTHING, and
        # _abort_if_superseded depends on that: its rmtree must never
        # mask the ConcurrentMaintenanceError it is about to raise
        # (an autopilot catches that error by design; an uncaught
        # store-layer OSError here would kill the sweep instead).
        try:
            self.fs.delete_dir(path)
        except Exception:
            if not ignore_errors:
                raise

    def list_gen_dirs(self, index_dir: str) -> list[str]:
        # allow_not_found handles the missing base path IN the
        # selector (ADVICE r11 #5): catching FileNotFoundError was
        # filesystem-specific — some pyarrow filesystems surface a
        # missing directory as other OSError subclasses, which would
        # crash _reserve_generation / maintenance sweeps on a fresh
        # index dir instead of returning the empty listing.
        sel = self._pafs.FileSelector(
            index_dir, recursive=False, allow_not_found=True
        )
        infos = self.fs.get_file_info(sel)
        return sorted(
            i.path
            for i in infos
            if i.type == self._pafs.FileType.Directory
            and i.base_name.startswith("gen-")
        )

    def list_cell_files(self, cells_dir: str) -> set[str]:
        # EXACTLY the Posix glob's shape: cell=*/<file>.parquet, one
        # directory level deep. A recursive '/cell=' substring match
        # would also sweep up Spark _temporary staging debris
        # (.../_temporary/attempt_x/cell=3/part-*.parquet) from a
        # crashed write and feed it to the maintenance late-fold as if
        # it were committed data (r11 review).
        if not self.isdir(cells_dir):
            return set()
        sel = self._pafs.FileSelector(cells_dir, recursive=True)
        out = set()
        prefix = f"{cells_dir}/"
        for i in self.fs.get_file_info(sel):
            if i.type != self._pafs.FileType.File:
                continue
            parts = i.path[len(prefix):].split("/")
            if (
                len(parts) == 2
                and parts[0].startswith("cell=")
                and parts[1].endswith(".parquet")
            ):
                out.add(i.path)
        return out

    def list_parquet_files(self, dir_path: str) -> set[str]:
        if not self.isdir(dir_path):
            return set()
        sel = self._pafs.FileSelector(dir_path, recursive=False)
        return {
            i.path
            for i in self.fs.get_file_info(sel)
            if i.type == self._pafs.FileType.File
            and i.path.endswith(".parquet")
        }

    def _read_table(self, path: str):
        import pyarrow.parquet as pq

        return pq.read_table(path, filesystem=self.fs)

    def footer_rows(self, paths) -> dict[str, int]:
        import pyarrow.parquet as pq

        return {
            p: pq.read_metadata(p, filesystem=self.fs).num_rows
            for p in paths
        }

    def _write_parquet(self, path: str, table) -> None:
        import pyarrow.parquet as pq

        with self.fs.open_output_stream(path) as f:
            pq.write_table(table, f)

    def _move_into_place(self, src: str, dst: str) -> None:
        # atomic rename on local/SubTree trees; an object store's PUT of
        # the final key is already atomic, so the tmp hop there is only
        # a copy (same caveat as commit_pointer)
        self.fs.move(src, dst)

    def commit_pointer(self, index_dir: str, gen: int) -> None:
        # move() is an atomic rename on local/SubTree trees; on
        # S3-class stores it is copy+delete — see the module
        # docstring's override contract.
        tmp = f"{index_dir}/CURRENT.tmp-{gen}"
        self.write_text(tmp, str(gen))
        self.fs.move(tmp, f"{index_dir}/CURRENT")

    @contextmanager
    def lock(self, index_dir: str, timeout: float = 120.0):
        # check-then-create: best-effort without a create-exclusive
        # primitive — the injection point a multi-writer object-store
        # deployment overrides with a real lease. A unique HOLDER
        # TOKEN is written into the file and re-read after creation
        # (and again before release), so a lost race — two writers
        # both passing the exists() check — is detected loudly
        # instead of corrupting commits silently (ADVICE r11 #3):
        # last-write-wins on the token means at most one writer's
        # re-read confirms; the loser re-queues (acquire window) or
        # raises LockLostError (release window — its critical section
        # already ran unprotected, which the deployment must hear).
        path = f"{index_dir}/MAINTENANCE.lock"
        token = uuid.uuid4().hex
        deadline = time.monotonic() + timeout
        while True:
            while self.exists(path):
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"could not acquire {path} within {timeout}s — "
                        "a crashed maintainer may have leaked it; "
                        "remove the file once no writer is live"
                    )
                time.sleep(0.05)
            self.write_text(path, token)
            # settle-then-reconfirm (r13; ADVICE r12 #2): without the
            # delay, A-writes/A-confirms/B-overwrites/B-confirms lets
            # BOTH writers confirm (each read its own token before the
            # other's write landed). The settle forces the other
            # racer's write — issued within the same contention window
            # — to land before our confirm read, so at most one
            # confirmer survives in practice. Probabilistic, not a
            # guarantee (the window shrinks to "a racer stalled longer
            # than the settle between its free-check and its write");
            # the TokenLeaseCoordinator's _take uses the same
            # discipline, and a conditional-put store closes it fully.
            # r14: confirm TWICE, one settle apart — same hold-path
            # re-confirm discipline as TokenLeaseCoordinator._take. An
            # undetected dual hold now needs the losing racer stalled
            # past two settles (not one) between its free-check and
            # its write; the window stays open in principle (only a
            # conditional-put store closes it) but shrinks enough that
            # a loaded box's scheduler jitter cannot hit it.
            time.sleep(self._LOCK_SETTLE)
            if self.read_text(path) == token:
                time.sleep(self._LOCK_SETTLE)
                if self.read_text(path) == token:
                    break
            # lost the create race — the other writer holds it now
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"could not acquire {path} within {timeout}s — "
                    "lost the create race repeatedly (a second writer "
                    "is live; this coordinator is single-writer-only)"
                )
            time.sleep(0.05)
        body_raised = False
        try:
            yield
        except BaseException:
            body_raised = True
            raise
        finally:
            if self.read_text(path) == token:
                self.fs.delete_file(path)
            elif not body_raised:
                # never delete another holder's lock; and if the body
                # already raised, ITS error is the primary signal —
                # masking it with LockLostError would hide the cause
                raise LockLostError(
                    f"{path} no longer holds this writer's token — a "
                    "second writer acquired it mid-hold; the critical "
                    "section ran unprotected (see LockLostError docs)"
                )

    def spark_path(self, path: str) -> str:
        if self._spark_path_fn is None:
            return path
        return self._spark_path_fn(path)


class TokenLeaseCoordinator(ArrowFsCoordinator):
    """Reference LEASE-backed coordinator (r12; the r11 verdict's
    "prove the subclass point is real" stretch): a fencing-token lease
    file over any ``pyarrow.fs.FileSystem``, with the two properties a
    multi-writer object-store deployment actually needs and the plain
    check-then-create lock cannot give:

    - LIVENESS under crashed holders: the lease file carries
      ``token expires_at``; an EXPIRED lease is broken and taken over
      at acquisition, so a writer that died mid-hold stalls the fleet
      for at most ``lease_ttl`` seconds instead of forever (the POSIX
      lock's leaked-file story requires an operator).
    - FENCED COMMITS: ``commit_pointer`` re-reads the lease while this
      instance believes it holds it and raises ``LockLostError`` if
      the token is no longer ours or the lease expired — a holder
      paused past its TTL (GC stall, network partition) whose lease a
      peer took over can no longer flip the pointer over the new
      holder's work; its commit dies loudly instead. This is the
      fencing-token discipline (Kleppmann, DDIA ch. 8): the CHECK
      rides the commit, not just the acquisition.

    - RENEWAL while held (r13; ADVICE r12 #1): real locked sections
      span entire Spark jobs (``append_to_ivf_index`` holds across its
      write; maintainer commit windows run late-fold jobs), so a hold
      can legitimately outlive a fixed TTL. A daemon HEARTBEAT thread
      re-writes ``token + fresh expiry`` every ``renew_every`` seconds
      (default ``lease_ttl / 3``) for as long as the lease is still
      this holder's and UNEXPIRED — so a live writer's lease never
      expires under it mid-hold, while a crashed or fully stalled
      writer (whose heartbeat is stalled with it) still hands over
      after at most ``lease_ttl``. The heartbeat never renews a lease
      that is already expired or re-tokened: a peer may have taken it
      over in that window, and stealing it back mid-peer-hold is the
      corruption the lease exists to prevent — renewal stops and the
      commit fence reports the loss.

    Honest residual races, stated up front: acquisition is still
    write-then-confirm over a last-write-wins store (two breakers of
    the same expired/free lease race; the ``settle`` delay plus TWO
    settle-spaced confirm re-reads — r14 — shrink but cannot close the
    window: an undetected dual hold now needs a racer stalled past two
    settles between its free-check and its write. Closing it needs a
    conditional-put primitive, e.g. S3 If-None-Match, which a
    deployment adds by overriding ``_take``. Lease stamps themselves
    are ATOMIC — tmp + rename, see ``_write_lease`` — so a reader can
    never mistake an in-flight stamp for a free lock),
    the heartbeat's read-then-rewrite inherits the same last-write-wins
    window (a renewal racing a takeover can clobber the new holder's
    token — the NEW holder's fence then fails loudly at ITS commit;
    detected, never silent), and expiry compares WALL-CLOCK time
    across writers, so clocks skewed beyond ``lease_ttl`` margins
    undermine takeover. All are the standard limits of file-based
    leases; the contract kit plus the lease tests pin everything this
    class does guarantee. Deployment sizing note: with renewal on,
    ``lease_ttl`` bounds FAILOVER latency, not hold length — it only
    needs to exceed the longest single stall (GC pause, fs hiccup) a
    live holder can take between heartbeats, not the longest locked
    Spark job. With ``renew_every<=0`` (renewal disabled) the old rule
    applies: lease_ttl must exceed the longest locked section.

    Held-lease state is THREAD-LOCAL (r12 review): a stalled thread
    whose lease a same-instance peer took over must fail its own
    fence — with instance-global state the winner's token would
    overwrite the loser's, the loser's commit would re-read the
    winner's (live) token and PASS, and the loser's release would pop
    the winner's entry, disabling the winner's fencing. Per-thread
    state keeps each holder fencing against the token IT wrote, which
    is the whole point of a fencing token.

    Migration note: a lock file this class cannot parse is treated as
    possibly held for one full ``lease_ttl`` before it is broken. A
    bare-token ``MAINTENANCE.lock`` leaked by an ``ArrowFsCoordinator``
    or ``PosixCoordinator`` writer parses that way, so switching an
    index with such a leftover to this coordinator stalls the first
    acquirer for one TTL (600 s at a 600 s TTL) before it takes over.
    Remove the leftover by hand once no old-type writer is live to
    hand over at once."""

    def __init__(
        self,
        filesystem,
        spark_path_fn=None,
        lease_ttl: float = 30.0,
        settle: float = 0.05,
        clock=time.time,
        renew_every: float | None = None,
    ):
        import threading

        super().__init__(filesystem, spark_path_fn=spark_path_fn)
        self.lease_ttl = float(lease_ttl)
        self._settle = float(settle)
        self._clock = clock
        # heartbeat period (r13; ADVICE r12 #1): real-time scheduled
        # (the injectable clock stamps EXPIRIES only — a fake-clock
        # test advancing time simulates a stall, and a stalled holder's
        # heartbeat must not fire early). <=0 disables renewal.
        self.renew_every = (
            float(renew_every)
            if renew_every is not None
            else self.lease_ttl / 3.0
        )
        self._threading = threading
        self._local = threading.local()

    @property
    def _held(self) -> dict:
        held = getattr(self._local, "held", None)
        if held is None:
            held = self._local.held = {}
        return held

    # -- lease file format: "<token> <expires_at>" (ascii) ----------
    def _parse(self, text: str | None):
        if not text:
            return None
        parts = text.split()
        if len(parts) != 2:
            return None
        try:
            return parts[0], float(parts[1])
        except ValueError:
            return None

    def _write_lease(self, path: str, token: str) -> None:
        """Stamp ``token + fresh expiry`` ATOMICALLY: tmp file + move
        (an atomic rename on local/SubTree trees; object stores have
        atomic whole-object PUT, where the tmp hop is redundant but
        harmless). A plain ``write_text`` truncates-then-writes, so a
        polling acquirer reading MID-WRITE parsed the empty/partial
        file as None — "free" — and took over a LIVE lease (the r13
        driver-box contract flake's torn-read trigger). The tmp name
        is per-writer (token prefix), so concurrent stampers never
        collide on it; the rename keeps last-write-wins semantics."""
        tmp = f"{path}.w-{token[:8]}"
        self.write_text(tmp, f"{token} {self._clock() + self.lease_ttl}")
        self.fs.move(tmp, path)

    def _reap_stamps(self, path: str) -> None:
        """Best-effort removal of ``<lease>.w-*`` tmp stamps: a writer
        that crashed between ``_write_lease``'s tmp write and its
        rename leaves one behind forever. Run only by a writer that
        has just broken an expired or corrupt lease and now holds it,
        so no live holder's stamp can be in flight; a racer whose
        in-flight tmp vanishes loses its ``_take`` (the move fails)
        and retries against our live lease."""
        parent, _, name = path.rpartition("/")
        sel = self._pafs.FileSelector(parent, allow_not_found=True)
        try:
            infos = self.fs.get_file_info(sel)
        except OSError:
            return
        for info in infos:
            if info.base_name.startswith(f"{name}.w-"):
                try:
                    self.fs.delete_file(info.path)
                except OSError:
                    pass

    def _take(self, path: str, token: str) -> bool:
        """One acquisition attempt: stamp our lease (atomic — see
        ``_write_lease``), then confirm by re-read TWICE, one settle
        apart (last-write-wins ⇒ at most one confirmer per settle
        window). The double confirm is the r14 hold-path re-confirm:
        a racer that read the lock as free just before our stamp must
        now stall past TWO settles — not one — between its free-check
        and its write for both holders to confirm. Still probabilistic
        (the class docstring's honest residual); the override point
        for a store with conditional puts closes it fully."""
        try:
            self._write_lease(path, token)
        except FileNotFoundError:
            # our tmp stamp was reaped by a peer that just broke the
            # same stale lease (``_reap_stamps``): we lost the race
            return False
        for _ in range(2):
            time.sleep(self._settle)
            got = self._parse(self.read_text(path))
            if got is None or got[0] != token:
                return False
        return True

    @contextmanager
    def lock(self, index_dir: str, timeout: float = 120.0):
        path = f"{index_dir}/MAINTENANCE.lock"
        token = uuid.uuid4().hex
        deadline = time.monotonic() + timeout
        # lease-clock start of the current run of unparseable reads; a
        # free or expired read ends the run, so each garbled episode
        # waits its own full TTL
        garbled_since = None
        while True:
            raw = self.read_text(path)
            cur = self._parse(raw)
            if cur is not None and cur[1] > self._clock():
                # live lease held by someone — wait for expiry/release
                garbled_since = None
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"could not acquire lease {path} within "
                        f"{timeout}s — held and unexpired (holder "
                        f"token {cur[0][:8]}…, {cur[1] - self._clock():.1f}s "
                        "of TTL left)"
                    )
                time.sleep(self._settle)
                continue
            if raw is not None and cur is None:
                # EXISTING but unparseable (r14): with atomic lease
                # stamps this is corruption from a crashed writer on a
                # tearing store, never an in-flight write — but the
                # conservative read is "possibly held". Treat it as
                # contended for one full TTL before breaking it, so a
                # torn read can never take over a live lease, while a
                # genuinely corrupt leak still hands over within the
                # same bound a crashed holder gets.
                now = self._clock()
                if garbled_since is None:
                    garbled_since = now
                if now - garbled_since <= self.lease_ttl:
                    if time.monotonic() > deadline:
                        raise TimeoutError(
                            f"could not acquire lease {path} within "
                            f"{timeout}s — lease file present but "
                            "unparseable (corrupt leak? it is broken "
                            "only after a full TTL of persistence)"
                        )
                    time.sleep(self._settle)
                    continue
            if cur is not None or raw is None:
                garbled_since = None  # free or expired: episode over
            # free, expired, or corrupt-past-TTL: attempt takeover
            if self._take(path, token):
                if raw is not None:
                    # we broke a stale lease: clear its writers' debris
                    self._reap_stamps(path)
                break
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"could not acquire lease {path} within {timeout}s "
                    "— lost the takeover race repeatedly"
                )
        self._held[index_dir] = (path, token)
        stop_hb = self._threading.Event()
        hb = None
        if self.renew_every > 0:
            hb = self._threading.Thread(
                target=self._heartbeat,
                args=(path, token, stop_hb),
                daemon=True,
            )
            hb.start()
        body_raised = False
        try:
            yield
        except BaseException:
            body_raised = True
            raise
        finally:
            stop_hb.set()
            if hb is not None:
                hb.join(5.0)
            self._held.pop(index_dir, None)
            got = self._parse(self.read_text(path))
            if got is not None and got[0] == token:
                self.fs.delete_file(path)
            elif not body_raised:
                raise LockLostError(
                    f"lease {path} no longer holds this writer's token "
                    "— it expired mid-hold and a peer took it over; "
                    "the critical section ran unprotected past the TTL"
                )

    def _heartbeat(self, path: str, token: str, stop) -> None:
        """Renew the held lease every ``renew_every`` REAL seconds
        until released (``stop`` set), the lease stops being ours, or
        it is found already expired — the last two mean a peer may
        hold it now, and a renewal write would steal it back mid-hold
        (the corruption the lease prevents), so renewal halts and the
        commit fence reports the loss. Store errors also halt renewal:
        the TTL then bounds the hold exactly as without a heartbeat."""
        while not stop.wait(self.renew_every):
            try:
                got = self._parse(self.read_text(path))
                if (
                    got is None
                    or got[0] != token
                    or got[1] <= self._clock()
                ):
                    return
                if stop.is_set():
                    # release ran between our read and this write — a
                    # renewal now would RESURRECT the lease the release
                    # just deleted, orphan-blocking every acquirer for
                    # a full TTL (r13 review). The residual (a write
                    # already in flight when release deletes) is the
                    # same last-write-wins window as acquisition; a
                    # conditional-put store closes both.
                    return
                self._write_lease(path, token)
            except Exception:
                return

    def commit_pointer(self, index_dir: str, gen: int) -> None:
        held = self._held.get(index_dir)
        if held is not None:
            path, token = held
            got = self._parse(self.read_text(path))
            if (
                got is None
                or got[0] != token
                or got[1] <= self._clock()
            ):
                raise LockLostError(
                    f"lease for {index_dir} lost or expired at pointer "
                    f"commit (gen {gen}) — commit FENCED: a peer may "
                    "hold the lease now and this writer's staged "
                    "output must not supersede theirs"
                )
        super().commit_pointer(index_dir, gen)
