"""Coordinator CONTRACT KIT (r12; r11 verdict #2): the protocol
assertions the POSIX concurrency tests pin — lock mutual exclusion,
pointer-commit atomicity/visibility, staging-marker semantics, listing
shapes — extracted into an abstract suite parameterized on a
coordinator INSTANCE, so a deployer's lease-backed subclass (the
injection point ``index_fs.py`` documents for multi-writer object
stores) certifies against the same contract the shipped coordinators
pass, without re-deriving what "correct" means from test archaeology.

Usage (a deployer's test suite)::

    from retail_datawarehouse_spark.operators.index_fs_contract import (
        run_coordinator_contract,
    )
    co = MyLeaseCoordinator(S3FileSystem(...), ...)
    run_coordinator_contract(co, "bucket/contract-scratch")

``run_coordinator_contract`` raises ``AssertionError`` naming the
violated clause on the first failure and returns the list of check
names on success. Checks create everything they need under
``scratch_root`` (one sub-namespace per check, so a failed run leaves
inspectable state) and use only the coordinator's own surface — no
Spark session, no local-filesystem assumptions — so the kit runs
against any store the coordinator can reach. The kit is enforced on
both shipped coordinators and red-tested against deliberately broken
ones in ``tests/test_index_coordinator.py``.

Cross-PROCESS certification (r13; r12 verdict #3):
``run_lease_contract_processes`` contends the coordinator from
separate OS processes — the regime a lease exists for. It takes a
FACTORY (a module-level, picklable callable constructing the
coordinator IN each child, since filesystem handles don't cross
process boundaries) and certifies two clauses: a shared-counter
read-modify-write invariant under N workers × M rounds of
acquire/mutate/release, and the fencing story end-to-end — a holder
paused past its TTL whose lease a PEER PROCESS took over must have
its ``commit_pointer`` raise ``LockLostError`` and its release raise
rather than delete the new holder's lease. Children are spawned (not
forked), so the harness is safe to call from a JVM-attached test
process; the factory must accept ``lease_ttl``/``renew_every``
keyword overrides (the fencing clause disables renewal to simulate a
full stall — a live holder's heartbeat would otherwise correctly keep
the lease).

Lease EXPIRY is certified in-process on an injected clock
(``lease_expiry_on_injected_clock``): for a coordinator with a
``lease_ttl`` (the reference lease and its subclasses) the clause
swaps in a fake lease clock through the ``clock=`` seam (``_clock``)
and switches renewal off (``renew_every = 0``, a fully stalled
holder), so a live lease must block until its TTL has elapsed on
that clock, then be taken over, and the expired holder's commit and
release must fail with ``LockLostError``. No wall-clock TTL has to
pass, so the kit can run a lease sized never to expire on a loaded
box and still certify expiry. A lock without a TTL passes the clause
vacuously.

The sidecar publish (``parquet_publish``) is certified on the
coordinator's surface: a published file is listed only once
published, a publish that died before its rename (crash injected at
``_move_into_place``) leaves nothing listed, and ids read back as
int64. ``footer_rows`` gives each listed file's footer row count (the
row count a read of that file alone returns) and nothing for an empty
listing. Given a ``spark`` session, ``run_coordinator_contract`` also
runs ``SPARK_CHECKS``: a Spark read of the sidecar directory sees the
published ids as ``long`` and never the leftover tmp file.

What the kit does NOT cover, honestly: lease timing beyond the
clauses above (see ``TokenLeaseCoordinator``'s tests for takeover
timing pins). And a calibration note on
``lock_mutual_exclusion_threads`` (ADVICE r12 #2): for
check-then-create locks (``ArrowFsCoordinator.lock``) mutual
exclusion under contention is PROBABILISTIC — the write-then-confirm
scheme has a dual-confirm window that the settle delay shrinks but
cannot close (only a conditional-put store can). The clause holds in
practice because the window requires a racer to stall longer than the
settle between its free-check and its write; a deployment that needs
the guarantee, not the likelihood, overrides the lock with a real
lease (``TokenLeaseCoordinator._take`` is the documented
conditional-put override point).
"""

from __future__ import annotations

import threading
import time


def _check_text_roundtrip(co, root):
    co.makedirs(f"{root}/idx")
    assert co.read_text(f"{root}/idx/CURRENT") is None, (
        "read_text on a missing file must return None (the fresh-index "
        "pointer probe), never raise"
    )
    co.write_text(f"{root}/idx/CURRENT", "3")
    assert co.read_text(f"{root}/idx/CURRENT") == "3", (
        "write_text/read_text must round-trip exactly"
    )
    assert co.exists(f"{root}/idx/CURRENT"), "exists must see a written file"
    assert not co.isdir(f"{root}/idx/CURRENT"), "a file is not a directory"
    assert co.isdir(f"{root}/idx"), "isdir must see a created directory"
    co.remove(f"{root}/idx/CURRENT")
    assert not co.exists(f"{root}/idx/CURRENT"), "remove must delete"


def _check_makedirs_collision(co, root):
    co.makedirs(f"{root}/idx")
    try:
        co.makedirs(f"{root}/idx")
    except FileExistsError:
        return
    raise AssertionError(
        "makedirs on an existing directory must raise FileExistsError — "
        "_reserve_generation depends on it for reservation uniqueness "
        "under the lock"
    )


def _check_rmtree_semantics(co, root):
    co.makedirs(f"{root}/idx/gen-1")
    co.write_text(f"{root}/idx/gen-1/.staging", "src=0\n")
    co.rmtree(f"{root}/idx/gen-1")
    assert not co.isdir(f"{root}/idx/gen-1"), "rmtree must remove the tree"
    # ignore_errors swallows a missing target (the abort path cleans a
    # directory that may already be gone)...
    co.rmtree(f"{root}/idx/gen-1", ignore_errors=True)
    # ...and the strict form surfaces it
    try:
        co.rmtree(f"{root}/idx/never-existed")
    except Exception:
        return
    raise AssertionError(
        "rmtree without ignore_errors must raise on a missing target — "
        "silent success would mask store-layer faults"
    )


def _check_gen_listing_shape(co, root):
    assert co.list_gen_dirs(f"{root}/fresh-index") == [], (
        "list_gen_dirs on a missing index dir must return [] — a fresh "
        "index's first reservation sweep runs before anything exists"
    )
    co.makedirs(f"{root}/idx/gen-2")
    co.makedirs(f"{root}/idx/gen-10")
    co.makedirs(f"{root}/idx/cells")  # non-gen dir: excluded
    co.write_text(f"{root}/idx/gen-5", "a FILE named like a gen")
    got = co.list_gen_dirs(f"{root}/idx")
    assert [g.rsplit("/", 1)[-1] for g in got] == ["gen-10", "gen-2"], (
        "list_gen_dirs must return exactly the gen-* DIRECTORIES, "
        f"lexicographically sorted: got {got!r}"
    )


def _check_cell_listing_shape(co, root):
    cells = f"{root}/idx/cells"
    assert co.list_cell_files(cells) == set(), (
        "list_cell_files on a missing cells dir must be empty"
    )
    co.makedirs(f"{cells}/cell=0")
    co.makedirs(f"{cells}/cell=1")
    co.write_text(f"{cells}/cell=0/part-0.parquet", "p")
    co.write_text(f"{cells}/cell=1/part-0.parquet", "p")
    co.write_text(f"{cells}/cell=1/_started", "not data")
    co.write_text(f"{cells}/_SUCCESS", "not data")
    # Spark job-commit debris from a crashed write — MUST be excluded:
    # feeding it to the maintenance late-fold duplicates rows
    co.makedirs(f"{cells}/_temporary/0/cell=1")
    co.write_text(f"{cells}/_temporary/0/cell=1/part-0.parquet", "debris")
    got = {p.rsplit("/cells/", 1)[-1] for p in co.list_cell_files(cells)}
    assert got == {"cell=0/part-0.parquet", "cell=1/part-0.parquet"}, (
        "list_cell_files must return exactly the depth-1 "
        f"cell=*/[...].parquet files: got {got!r}"
    )


def _check_parquet_listing_shape(co, root):
    ts = f"{root}/idx/tombstones"
    assert co.list_parquet_files(ts) == set(), (
        "list_parquet_files on a missing dir must be empty"
    )
    co.makedirs(ts)
    co.write_text(f"{ts}/part-0.parquet", "p")
    co.write_text(f"{ts}/_SUCCESS", "not data")
    co.makedirs(f"{ts}/_temporary/0")
    co.write_text(f"{ts}/_temporary/0/part-1.parquet", "debris")
    got = {p.rsplit("/", 1)[-1] for p in co.list_parquet_files(ts)}
    assert got == {"part-0.parquet"}, (
        "list_parquet_files must return exactly the top-level "
        f"*.parquet files: got {got!r}"
    )


def _publish_ids(co, dir_path, ids):
    import pyarrow as pa

    return co.publish_parquet(
        dir_path, pa.table({"id": pa.array(ids, pa.int64())})
    )


def _crash_publish(co, dir_path, ids):
    """A publish that dies after its tmp write, before the rename."""

    def crash(src, dst):
        raise OSError("injected crash before the rename")

    co._move_into_place = crash
    try:
        _publish_ids(co, dir_path, ids)
    except OSError:
        return
    finally:
        del co._move_into_place
    raise AssertionError(
        "publish_parquet must land its file through _move_into_place "
        "(the kit's crash-injection point)"
    )


_PUBLISHED = [1, 2**40, -3]


def _check_parquet_publish(co, root):
    ts = f"{root}/idx/tombstones"
    assert co.list_parquet_files(ts) == set(), (
        "nothing is listed before a publish"
    )
    _crash_publish(co, ts, [999])
    assert co.list_parquet_files(ts) == set(), (
        "a publish that died before its rename must leave nothing "
        "listed — its tmp file is not committed data"
    )
    path = _publish_ids(co, ts, _PUBLISHED)
    assert co.list_parquet_files(ts) == {path}, (
        "a published file must be listed — exactly it, never its tmp "
        f"debris: got {co.list_parquet_files(ts)!r}"
    )
    table = co.read_parquet(co.list_parquet_files(ts))
    assert str(table.schema.field("id").type) == "int64", (
        f"ids must round-trip as int64 (Spark long): {table.schema}"
    )
    assert table.column("id").to_pylist() == _PUBLISHED, (
        "ids must round-trip exactly"
    )


def _check_footer_rows(co, root):
    ts = f"{root}/idx/tombstones"
    assert co.footer_rows(co.list_parquet_files(ts)) == {}, (
        "footer_rows of an empty listing must be empty"
    )
    for ids in (_PUBLISHED, [], [7]):
        _publish_ids(co, ts, ids)
    _crash_publish(co, ts, [999])
    listed = co.list_parquet_files(ts)
    want = {p: co.read_parquet([p]).num_rows for p in listed}
    got = co.footer_rows(listed)
    assert got == want, (
        "footer_rows must give each listed file's row count and nothing "
        f"else: got {got!r}, want {want!r}"
    )


def _check_publish_spark_read(co, root, spark):
    ts = f"{root}/idx/tombstones"
    _publish_ids(co, ts, _PUBLISHED)
    _crash_publish(co, ts, [999])
    df = spark.read.parquet(co.spark_path(ts))
    assert dict(df.dtypes) == {"id": "bigint"}, (
        f"a Spark read must see the ids as long: {df.dtypes}"
    )
    got = sorted(r.id for r in df.collect())
    assert got == sorted(_PUBLISHED), (
        "a Spark read of the sidecar directory must see the published "
        f"ids and never a leftover tmp file: got {got}"
    )


class _InjectedClock:
    def __init__(self, t: float = 1_000_000.0):
        self.t = t

    def __call__(self) -> float:
        return self.t


def _check_lease_expiry_on_injected_clock(co, root):
    if not hasattr(co, "lease_ttl"):
        return  # a lock without a TTL never expires
    from retail_datawarehouse_spark.operators.index_fs import LockLostError

    idx = f"{root}/idx"
    co.makedirs(idx)
    clock = _InjectedClock()
    saved = co._clock, co.renew_every
    co._clock, co.renew_every = clock, 0
    held, taken, done = (threading.Event() for _ in range(3))
    out = {}

    def stalled_holder():
        try:
            with co.lock(idx, timeout=30.0):
                held.set()
                taken.wait(60.0)
                try:
                    co.commit_pointer(idx, 1)
                    out["commit"] = "unfenced"
                except LockLostError:
                    out["commit"] = "fenced"
        except LockLostError:
            out["release"] = "lost"
        except Exception as exc:  # surfaced by the assertions below
            out["error"] = repr(exc)
        finally:
            done.set()

    t = threading.Thread(target=stalled_holder)
    t.start()
    try:
        assert held.wait(60.0), f"the first holder never acquired: {out}"
        clock.t += co.lease_ttl - 1.0
        try:
            with co.lock(idx, timeout=0.3):
                raise AssertionError(
                    "a live lease was taken over before its TTL elapsed "
                    "on the lease clock"
                )
        except TimeoutError:
            pass
        clock.t += 2.0
        try:
            with co.lock(idx, timeout=5.0):
                taken.set()
                assert done.wait(60.0), "the stalled holder never finished"
                co.commit_pointer(idx, 2)
        except TimeoutError as exc:
            raise AssertionError(
                "a lease expired on the lease clock was not taken over: "
                f"{exc}"
            ) from exc
    finally:
        taken.set()
        t.join(60.0)
        co._clock, co.renew_every = saved
    assert out.get("commit") == "fenced", (
        f"the expired holder's commit must raise LockLostError: {out}"
    )
    assert out.get("release") == "lost", (
        f"the expired holder's release must raise LockLostError: {out}"
    )
    assert co.read_text(f"{idx}/CURRENT").strip() == "2", (
        "CURRENT must hold the taker's generation"
    )


def _check_pointer_commit(co, root):
    idx = f"{root}/idx"
    co.makedirs(idx)
    co.commit_pointer(idx, 1)
    assert co.read_text(f"{idx}/CURRENT").strip() == "1", (
        "commit_pointer must make the generation visible in CURRENT"
    )
    co.commit_pointer(idx, 2)
    assert co.read_text(f"{idx}/CURRENT").strip() == "2", (
        "commit_pointer must move the pointer forward over an "
        "existing CURRENT"
    )
    leftovers = [
        p
        for p in (f"{idx}/CURRENT.tmp-1", f"{idx}/CURRENT.tmp-2")
        if co.exists(p)
    ]
    assert not leftovers, (
        f"commit_pointer must not leave temp files behind: {leftovers!r}"
    )


def _check_lock_blocks_and_releases(co, root):
    idx = f"{root}/idx"
    co.makedirs(idx)
    with co.lock(idx):
        try:
            with co.lock(idx, timeout=0.3):
                raise AssertionError(
                    "a second lock acquisition while held must NOT "
                    "succeed — mutual exclusion is the whole contract"
                )
        except TimeoutError:
            pass
    # released: re-acquire must now succeed promptly
    with co.lock(idx, timeout=5.0):
        pass


def _check_lock_mutual_exclusion_threads(co, root):
    idx = f"{root}/idx"
    co.makedirs(idx)
    state = {"active": 0, "max_active": 0, "errors": []}
    guard = threading.Lock()

    def worker():
        try:
            for _ in range(4):
                with co.lock(idx, timeout=60.0):
                    with guard:
                        state["active"] += 1
                        state["max_active"] = max(
                            state["max_active"], state["active"]
                        )
                    time.sleep(0.01)
                    with guard:
                        state["active"] -= 1
        except Exception as exc:  # surfaced below — a thread must not die
            state["errors"].append(repr(exc))

    threads = [threading.Thread(target=worker) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not state["errors"], (
        f"lock contention must not error: {state['errors']}"
    )
    assert state["max_active"] == 1, (
        "two writers held the lock SIMULTANEOUSLY "
        f"(max concurrent holders = {state['max_active']}) — this "
        "coordinator cannot protect the maintenance protocol"
    )


def _check_spark_path_inversion(co, root):
    path = f"{root}/idx/cells/cell=3/part-0.parquet"
    mapped = co.spark_path(path)
    # DataFrame.inputFiles returns file: URIs on local stores; the
    # coordinator must recover its own path from either form
    assert co.from_spark_path(mapped) == path, (
        "from_spark_path must invert spark_path"
    )
    assert co.from_spark_path(f"file://{mapped}") == path or not str(
        mapped
    ).startswith("/"), (
        "from_spark_path must strip a file:// scheme off a mapped "
        "absolute path"
    )


CONTRACT_CHECKS = [
    ("text_roundtrip", _check_text_roundtrip),
    ("makedirs_collision", _check_makedirs_collision),
    ("rmtree_semantics", _check_rmtree_semantics),
    ("gen_listing_shape", _check_gen_listing_shape),
    ("cell_listing_shape", _check_cell_listing_shape),
    ("parquet_listing_shape", _check_parquet_listing_shape),
    ("parquet_publish", _check_parquet_publish),
    ("footer_rows", _check_footer_rows),
    ("pointer_commit", _check_pointer_commit),
    ("lock_blocks_and_releases", _check_lock_blocks_and_releases),
    ("lock_mutual_exclusion_threads", _check_lock_mutual_exclusion_threads),
    ("spark_path_inversion", _check_spark_path_inversion),
    ("lease_expiry_on_injected_clock", _check_lease_expiry_on_injected_clock),
]

# clauses that also need a Spark session (``run_coordinator_contract``'s
# ``spark=``)
SPARK_CHECKS = [
    ("publish_spark_read", _check_publish_spark_read),
]


def _process_mutex_worker(factory, factory_kw, idx, rounds, errors_q):
    """One contending writer: ``rounds`` × (acquire → read counter →
    dwell → write counter+1 → release). The dwell widens the window a
    broken lock would need to interleave two read-modify-writes."""
    try:
        co = factory(**factory_kw)
        for _ in range(rounds):
            with co.lock(idx, timeout=120.0):
                cur = co.read_text(f"{idx}/COUNTER")
                n = int(cur) if cur else 0
                time.sleep(0.01)
                co.write_text(f"{idx}/COUNTER", str(n + 1))
    except Exception as exc:  # surfaced by the parent's assertion
        errors_q.put(repr(exc))


def _process_fencing_stalled(
    factory, factory_kw, idx, a_held, b_held, a_done, results_q
):
    """The paused-past-TTL holder: acquires with renewal DISABLED (a
    real stall freezes the heartbeat too), waits for the peer process
    to take the expired lease over, then attempts the pointer commit —
    which must be FENCED — and lets release report the lost lease."""
    from retail_datawarehouse_spark.operators.index_fs import (
        LockLostError,
    )

    try:
        co = factory(**factory_kw)
        try:
            with co.lock(idx, timeout=30.0):
                a_held.set()
                b_held.wait(30.0)  # the stall: peer takes over mid-hold
                try:
                    co.commit_pointer(idx, 1)
                    results_q.put(("a_commit", "SUCCEEDED-UNFENCED"))
                except LockLostError:
                    results_q.put(("a_commit", "fenced"))
        except LockLostError:
            results_q.put(("a_release", "lost-raised"))
    except Exception as exc:
        results_q.put(("a_error", repr(exc)))
    finally:
        a_done.set()


def _process_fencing_taker(
    factory, factory_kw, idx, a_held, b_held, a_done, results_q
):
    """The peer: waits until the stalled holder holds, takes the lease
    over once its TTL expires, and proves the takeover carries WRITE
    authority — its own commit lands while the loser's is fenced."""
    try:
        co = factory(**factory_kw)
        a_held.wait(30.0)
        with co.lock(idx, timeout=30.0):  # succeeds only via expiry
            b_held.set()
            a_done.wait(30.0)  # loser's commit + release both resolved
            co.commit_pointer(idx, 2)
            results_q.put(("b_commit", "committed"))
    except Exception as exc:
        results_q.put(("b_error", repr(exc)))


def run_lease_contract_processes(
    factory,
    scratch_root: str,
    workers: int = 3,
    rounds: int = 4,
    lease_ttl: float = 1.0,
    factory_kw: dict | None = None,
) -> list[str]:
    """Certify a lease-backed coordinator across OS PROCESS boundaries
    (r13; r12 verdict #3). ``factory`` must be a module-level callable
    (picklable by reference for spawn) that builds the coordinator in
    the child and accepts ``lease_ttl`` and ``renew_every`` keyword
    overrides; ``factory_kw`` adds fixed kwargs (e.g. a root path).
    Raises ``AssertionError`` naming the violated clause; returns the
    clause names on success. Seconds-scale: ``lease_ttl`` bounds the
    fencing clause's takeover wait."""
    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    kw = dict(factory_kw or {})
    names = []

    # Clause 1: mutual exclusion across processes — counter invariant.
    co = factory(**kw)
    idx = f"{scratch_root}/proc_mutex"
    co.makedirs(idx)
    errors_q = ctx.Queue()
    procs = [
        ctx.Process(
            target=_process_mutex_worker,
            args=(factory, kw, idx, rounds, errors_q),
        )
        for _ in range(workers)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(300.0)
    errors = []
    while not errors_q.empty():
        errors.append(errors_q.get())
    assert not errors, (
        f"[proc_mutual_exclusion] worker processes errored: {errors}"
    )
    got = co.read_text(f"{idx}/COUNTER")
    assert got is not None and int(got) == workers * rounds, (
        "[proc_mutual_exclusion] lost increments across processes "
        f"(counter={got!r}, expected {workers * rounds}) — two "
        "processes held the lease simultaneously"
    )
    names.append("proc_mutual_exclusion")

    # Clause 2: cross-process fencing — expired-lease takeover must
    # fence the loser's commit and land the winner's.
    idx = f"{scratch_root}/proc_fencing"
    co.makedirs(idx)
    # Only the STALLED holder gets the short TTL + renewal off (it is
    # simulating a full stall, heartbeat included). The taker keeps a
    # long TTL: its own lease must survive the wait for the loser's
    # commit/release sequencing on a loaded box — a 1 s taker lease
    # expiring before its commit would flake the clause (r13 review).
    stalled_kw = dict(kw, lease_ttl=lease_ttl, renew_every=0)
    taker_kw = dict(kw, lease_ttl=max(lease_ttl, 60.0))
    a_held, b_held, a_done = ctx.Event(), ctx.Event(), ctx.Event()
    results_q = ctx.Queue()
    pa = ctx.Process(
        target=_process_fencing_stalled,
        args=(factory, stalled_kw, idx, a_held, b_held, a_done, results_q),
    )
    pb = ctx.Process(
        target=_process_fencing_taker,
        args=(factory, taker_kw, idx, a_held, b_held, a_done, results_q),
    )
    pa.start()
    pb.start()
    pa.join(120.0)
    pb.join(120.0)
    results = {}
    while not results_q.empty():
        k, v = results_q.get()
        results[k] = v
    assert results.get("a_commit") == "fenced", (
        "[proc_fencing] the stalled holder's commit must raise "
        f"LockLostError after a peer-process takeover: {results}"
    )
    assert results.get("a_release") == "lost-raised", (
        "[proc_fencing] the stalled holder's release must raise "
        f"rather than delete the new holder's lease: {results}"
    )
    assert results.get("b_commit") == "committed", (
        f"[proc_fencing] the taking-over peer must commit: {results}"
    )
    current = co.read_text(f"{idx}/CURRENT")
    assert current is not None and current.strip() == "2", (
        "[proc_fencing] CURRENT must hold the WINNER's generation "
        f"(got {current!r})"
    )
    names.append("proc_fencing")
    return names


def run_coordinator_contract(
    co, scratch_root: str, spark=None
) -> list[str]:
    """Certify ``co`` against the index-coordinator protocol. Each
    check runs in its own namespace under ``scratch_root`` (created
    here; must not already contain a same-named namespace); with a
    ``spark`` session the ``SPARK_CHECKS`` run too, after the rest.
    Raises ``AssertionError`` naming the violated clause; returns the
    check names on success."""
    checks = list(CONTRACT_CHECKS)
    if spark is not None:
        checks += [
            (name, lambda c, ns, check=check: check(c, ns, spark))
            for name, check in SPARK_CHECKS
        ]
    ran = []
    for name, check in checks:
        ns = f"{scratch_root}/{name}"
        co.makedirs(ns)
        try:
            check(co, ns)
        except AssertionError as exc:
            raise AssertionError(f"[{name}] {exc}") from exc
        ran.append(name)
    return ran
