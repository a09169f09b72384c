"""One consistent, LOCK-FREE snapshot of a live store per mutation seq.

THE PROBLEM: a Spark append commits its task files into the partition
dir one rename at a time, and a fan-out batch appends to several
tables one after another, so a reader that lists files live can catch
part of a batch. A tail poll racing a flush could list a PREFIX of the
batch, advance its watermark past the batch's max ts and skip the
unlisted rows forever; a query could see a batch's new samples without
the series and GIN rows that label them (`{app=~"a|b"}` answered the
new `app=a` lines but not the new `app=b` ones), and the per-seq frame
memo then re-served that torn answer until the seq moved. Taking the
store WRITER lock for a read would serialize every flush behind a
query and, in the split reader/writer deployment, make the read path
fight over the cross-process writer flock.

THE FIX — snapshot, don't lock. The writer side publishes everything a
reader needs for an MVCC-style consistent view (the local-parquet
analog of the manifest/commit log an object-store lake would use; the
reference gets this for free from ClickHouse MVCC,
reader/service/query_range.go:670-760):

  * every fan-out batch writes a journal entry (atomic rename) BEFORE
    its first append, recording the pre-batch file listing of exactly
    the partitions it will touch, and removes it AFTER the last append
    (storage/journal.py). A pending entry therefore identifies every
    in-flight file: listing ∩ snapshot = the committed pre-batch view.
  * batch commit and maintenance completion bump a monotonic mutation
    sequence (`_journal/.seq`, tmp+rename) — readers detect a batch
    that began AND committed inside their listing window.
  * rotate/compact/tier walks (which mutate listings without journal
    entries) run inside `maintenance_window()`, which sets a marker
    (`_journal/.maint`) readers refuse to pin through.

`pin_listing` validates a listing: observe (seq, maint, pending) →
list files → observe again; if both observations agree and no
maintenance is active, exclude the pending batches' new files and the
listing is a consistent committed view as of that seq. Otherwise retry
— a transition happened during the few-ms listing. No lock is taken in
either process: flushes never wait on reads, reads never wait on
flushes (in-flight files are simply excluded and surface with the
commit's seq), and the cross-process writer flock is never touched
from a read path.

A StoreEngine pins one listing for every journaled table each time the
seq moves, and every read under that seq — query routes, label and
series endpoints, the rows and blocks it keeps for served reads, and
live-tail polls — loads exactly the pinned files (storage/query.py
`_SeqCatalog`; basePath preserves the (oid, date) partition columns,
so partition pruning still applies). A tail poll scans only the samples files its
snapshot holds beyond the last one it drained.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from gigapipe_spark.storage.journal import JOURNAL_DIR

SEQ_FILE = ".seq"
MAINT_MARKER = ".maint"


class SnapshotUnstable(RuntimeError):
    """pin_listing could not observe a quiescent window (continuous
    mutation or an active maintenance walk). A tail poll skips its
    tick — the watermark does not advance, so nothing is lost."""


def _seq_path(root: str) -> str:
    return os.path.join(root, JOURNAL_DIR, SEQ_FILE)


def read_mutation_seq(root: str) -> int:
    try:
        with open(_seq_path(root)) as fh:
            return int(fh.read().strip() or 0)
    except (FileNotFoundError, ValueError):
        return 0


def bump_mutation_seq(root: str) -> None:
    """Advance the store's mutation sequence (atomic tmp+rename).
    Single-writer discipline (writer flock) means no write race; the
    bump is one tiny rename per batch/maintenance walk — noise next to
    the multi-table Spark appends it fences."""
    path = _seq_path(root)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + f".tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write(str(read_mutation_seq(root) + 1))
    os.replace(tmp, path)


_MAINT_DEPTH: dict[str, int] = {}


@contextmanager
def maintenance_window(root: str):
    """Marks a listing-mutating maintenance walk (rotate / compact /
    tier move / leftover healing) so snapshot readers refuse to pin
    through it, and bumps the mutation seq on exit so a walk that fits
    entirely inside a reader's listing window is still detected.
    Re-entrant per store root (compact's heal runs inside rotate's
    window). Caller holds the writer lock — depth needs no guard."""
    key = os.path.abspath(os.path.normpath(root))
    marker = os.path.join(key, JOURNAL_DIR, MAINT_MARKER)
    depth = _MAINT_DEPTH.get(key, 0)
    if depth == 0:
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        with open(marker, "w") as fh:
            fh.write(str(os.getpid()))
    _MAINT_DEPTH[key] = depth + 1
    try:
        yield
    finally:
        _MAINT_DEPTH[key] = depth
        if depth == 0:
            try:
                os.remove(marker)
            except FileNotFoundError:
                pass
            bump_mutation_seq(key)


def _pending_entries(root: str) -> dict[str, dict | None]:
    """{entry_name: parsed_entry} for every pending journal entry.
    A value of None means the entry vanished or was torn mid-read —
    the stability check treats that as a transition and retries."""
    jdir = os.path.join(root, JOURNAL_DIR)
    try:
        names = os.listdir(jdir)
    except FileNotFoundError:
        return {}
    out: dict[str, dict | None] = {}
    for n in sorted(names):
        if not n.endswith(".json"):
            continue
        try:
            with open(os.path.join(jdir, n)) as fh:
                out[n] = json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError, OSError):
            out[n] = None
    return out


def _list_table_files(root: str, table: str) -> list[tuple[str, str, str, str]]:
    """[(oid, iso_date, file_name, abs_path)] for a table's committed
    parquet files. Walks only oid=/date= partition levels (the layout
    every fan-out writer produces), skipping committer staging and
    compact/tier crash-leftover dirs."""
    tdir = os.path.join(root, table)
    out: list[tuple[str, str, str, str]] = []
    try:
        top = sorted(os.listdir(tdir))
    except FileNotFoundError:
        return out
    oid_dirs = [(n[4:], os.path.join(tdir, n)) for n in top if n.startswith("oid=")]
    if not oid_dirs:  # pre-oid layout: date= at top level, default tenant
        oid_dirs = [("0", tdir)]
    for oid, odir in oid_dirs:
        try:
            dates = sorted(os.listdir(odir))
        except FileNotFoundError:
            continue
        for dn in dates:
            if not dn.startswith("date="):
                continue
            iso = dn[5:]
            pdir = os.path.join(odir, dn)
            if any(pdir.endswith(sfx) for sfx in (".compact_tmp", ".compact_old", ".tier_tmp")):
                continue
            try:
                names = os.listdir(pdir)
            except (FileNotFoundError, NotADirectoryError):
                continue
            out.extend(
                (oid, iso, n, os.path.join(pdir, n))
                for n in sorted(names)
                if n.endswith(".parquet")
            )
    return out


def _excluded(entry: dict, table: str, oid: str, iso: str, name: str) -> bool:
    """Is this listed file NEW relative to a pending batch's pre-batch
    snapshot (i.e. written by the in-flight batch)? Mirrors
    journal._repair_entry's rollback set, as a view filter."""
    snap = entry.get("tables", {}).get(table)
    if snap is None or entry.get("oid", "0") != oid:
        return False
    if not snap.get("table_existed", True):
        return True  # whole table created by the in-flight batch
    files = snap.get("parts", {}).get(iso, "untouched")
    if files == "untouched":
        return False  # partition outside the batch's write scope
    if files is None:
        return True  # partition created by the in-flight batch
    return name not in files


def in_maintenance(root: str) -> bool:
    """Is a listing-mutating maintenance walk running on this store?"""
    return os.path.exists(os.path.join(root, JOURNAL_DIR, MAINT_MARKER))


def pin_listing(
    root: str,
    tables: tuple[str, ...],
    attempts: int = 40,
    backoff_s: float = 0.025,
) -> tuple[int, dict[str, list[str]]]:
    """Pin a consistent committed file listing for `tables` (see module
    docstring for the protocol). Returns (seq, {table: [abs file
    paths]}), the listing being the committed view as of mutation seq
    `seq`. Raises SnapshotUnstable after `attempts` failed validation
    rounds (~1s default) — e.g. an active compact."""
    root = os.path.abspath(os.path.normpath(root))
    for _ in range(attempts):
        if in_maintenance(root):
            time.sleep(backoff_s)
            continue
        s1 = read_mutation_seq(root)
        p1 = _pending_entries(root)
        listing = {t: _list_table_files(root, t) for t in tables}
        p2 = _pending_entries(root)
        s2 = read_mutation_seq(root)
        if (
            s1 != s2
            or p1.keys() != p2.keys()
            or any(v is None for v in p1.values())
            or any(v is None for v in p2.values())
            or in_maintenance(root)
        ):
            time.sleep(backoff_s)
            continue
        pending = list(p2.values())
        return s2, {
            t: [
                path
                for (oid, iso, name, path) in files
                if not any(_excluded(e, t, oid, iso, name) for e in pending)
            ]
            for t, files in listing.items()
        }
    raise SnapshotUnstable(
        f"no quiescent listing window for {root!r} after {attempts} attempts"
    )
