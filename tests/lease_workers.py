"""Spawn-importable coordinator factories for the cross-process lease
certification (``run_lease_contract_processes``): spawned children
re-import this module and rebuild the coordinator from a plain root
path — filesystem handles and lambdas don't cross process boundaries,
so the factory must be a module-level callable taking only picklable
arguments. Lives beside the tests (pytest puts this directory on
``sys.path``, and spawn children inherit it)."""

from __future__ import annotations


def _spark_path(root: str):
    def fn(p: str) -> str:
        return f"{root}/{p}"

    return fn


def subtree_lease_coordinator(
    root: str,
    lease_ttl: float = 30.0,
    renew_every: float | None = None,
    settle: float = 0.01,
):
    """A ``TokenLeaseCoordinator`` over a SubTree-rooted local
    filesystem — the same shape the in-process lease tests use, built
    fresh inside whichever process calls it."""
    import pyarrow.fs as pafs

    from retail_datawarehouse_spark.operators.index_fs import (
        TokenLeaseCoordinator,
    )

    fs = pafs.SubTreeFileSystem(root, pafs.LocalFileSystem())
    return TokenLeaseCoordinator(
        fs,
        spark_path_fn=_spark_path(root),
        lease_ttl=lease_ttl,
        renew_every=renew_every,
        settle=settle,
    )
