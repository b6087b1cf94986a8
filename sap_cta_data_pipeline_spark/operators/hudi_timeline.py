"""The Hudi timeline: every Hudi reader, writer, table service and fixture
lists instants, views file slices and commits through this module. It
holds no Spark code, so every Hudi module can import it.

Layout (hudi.apache.org/tech-specs): ``<base>/.hoodie/`` holds
``hoodie.properties`` and one file per instant state — ``<ts>.requested``
(claimed, by an exclusive create), ``<ts>.inflight`` or
``<ts>.<action>.inflight`` (writing files named by ``ts``), and
``<ts>.<action>`` (completed; a ``commit`` or ``deltacommit`` records the
(fileId, path) pairs it wrote in ``partitionToWriteStats``, a ``clean``
its retention fence and deleted files). Archival moves old commits into
``archived/commits.archived``, one JSON line each with its metadata, so
they stay on the timeline. Instant times sort lexicographically (the
width rule of ``_next_instant``).

A file slice is a base file plus the log files appended after it;
replaying the completed instants' write stats in time order gives each
file group's latest slice. A copy-on-write table is a merge-on-read
table without logs.

Concurrency (hudi.apache.org/docs/concurrency_control): a read-dependent
write aborts when an instant its read did not see completed (before or
after the write claimed its own) and wrote one of its file groups. The
check and the completing rename run under an ``fcntl.flock`` on
``.hoodie/lock``, which the OS drops if the process dies.
"""

from __future__ import annotations

import fcntl
import json
import os
from contextlib import contextmanager, suppress
from typing import Callable, NamedTuple

from .delta_reader import CommitConflict

_INSTANT_WIDTH = 14  # Hudi-style timestamp width: lexicographic == numeric
_DATA_ACTIONS = ("commit", "deltacommit")
_STATES = ("requested", "inflight", "completed")  # in lifecycle order

#: fileId → (base file | None, log files after it)
Slices = dict[str, tuple[str | None, list[str]]]


class Instant(NamedTuple):
    ts: str
    action: str | None  # None while only claimed
    state: str  # one of _STATES
    archived: bool = False
    meta: dict | None = None  # archived lines carry it; _meta reads the rest


def _timeline_dir(base: str) -> str:
    """The ``.hoodie`` directory of the table at ``base``. Reading never
    creates a table: a path without one raises."""
    tl = os.path.join(base, ".hoodie")
    if not os.path.isdir(tl):
        raise FileNotFoundError(f"no Hudi table at {base}: {tl} does not exist")
    return tl


def create_table(base: str, table_type: str) -> None:
    """Create the table at ``base`` with ``table_type`` (``COPY_ON_WRITE``
    or ``MERGE_ON_READ``) unless it already exists. A table's first
    write calls this; readers never do."""
    tl = os.path.join(base, ".hoodie")
    os.makedirs(tl, exist_ok=True)
    name = os.path.basename(os.path.normpath(base))
    props = os.path.join(tl, "hoodie.properties")
    with suppress(FileExistsError), open(props, "x") as fh:  # O_CREAT | O_EXCL
        fh.write(f"hoodie.table.name={name}\nhoodie.table.type={table_type}\n")


# ---------------------------------------------------------------- listing


def _archived_instants(tl: str) -> list[dict]:
    path = os.path.join(tl, "archived", "commits.archived")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _parse(name: str) -> tuple[str, str | None, str] | None:
    """(instant, action, state) of a timeline file name, or None."""
    ts, _, rest = name.partition(".")
    if not ts.isdigit() or not rest:
        return None
    action, _, state = rest.rpartition(".")
    if state in ("requested", "inflight"):
        return ts, action or ("commit" if state == "inflight" else None), state
    return ts, rest, "completed"


def _instants(tl: str) -> list[Instant]:
    """Every instant, active and archived, in time order. An instant with
    several state files reports its furthest state. The active listing
    is read before the archive, so an instant archived meanwhile is still
    seen once."""
    found: dict[str, Instant] = {}
    for ts, action, state in filter(None, map(_parse, os.listdir(tl))):
        cur = found.get(ts)
        if cur is None or _STATES.index(state) > _STATES.index(cur.state):
            found[ts] = Instant(ts, action, state)
    for a in _archived_instants(tl):
        ts = a["instant"]
        found.setdefault(ts, Instant(ts, a["action"], "completed", True, a["meta"]))
    return [found[ts] for ts in sorted(found)]


def instants(base: str) -> list[Instant]:
    return _instants(_timeline_dir(base))


def _meta(tl: str, ins: Instant) -> dict:
    """The metadata of a completed instant."""
    if ins.meta is not None:
        return ins.meta
    try:
        with open(os.path.join(tl, f"{ins.ts}.{ins.action}")) as fh:
            return json.load(fh)
    except FileNotFoundError:  # archived since it was listed
        return next(a["meta"] for a in _archived_instants(tl) if a["instant"] == ins.ts)


def _writes(meta: dict) -> list[tuple[str, str]]:
    return [
        (ws["fileId"], ws["path"])
        for stats in meta["partitionToWriteStats"].values()
        for ws in stats
    ]


def writes(base: str, ts: str) -> list[tuple[str, str]]:
    """(fileId, path) of every file the completed instant ``ts`` wrote."""
    tl = _timeline_dir(base)
    ins = next(i for i in _instants(tl) if i.ts == ts and i.state == "completed")
    return _writes(_meta(tl, ins))


def _completed_commits(tl: str) -> list[str]:
    """Active completed ``commit`` instants, in time order."""
    return [
        i.ts
        for i in _instants(tl)
        if i.action == "commit" and i.state == "completed" and not i.archived
    ]


def _retention_fence(tl: str, listing: list[Instant] | None = None) -> str | None:
    """earliestCommitToRetain of the latest clean, or None."""
    cleans = [
        i
        for i in (listing if listing is not None else _instants(tl))
        if i.action == "clean" and i.state == "completed"
    ]
    return _meta(tl, cleans[-1])["earliestCommitToRetain"] if cleans else None


def _next_instant(tl: str) -> str:
    """The instant after every instant of any action or state, active or
    archived. New tables start at the 14-digit width; a table with
    narrower names keeps its width and refuses to overflow it (999 → 1000
    under 3-digit names would sort before 101)."""
    names = [i.ts for i in _instants(tl)]
    if not names:
        return f"{1:0{_INSTANT_WIDTH}d}"
    width = max(len(n) for n in names)
    nxt = max(int(n) for n in names) + 1
    if len(str(nxt)) > width:
        raise ValueError(
            f"instant {nxt} overflows the timeline's {width}-digit naming; "
            "lexicographic ordering would break — rewrite the timeline at "
            f"{_INSTANT_WIDTH}-digit width first"
        )
    return f"{nxt:0{width}d}"


# ------------------------------------------------------ file-slice view


def _view(tl: str, listing: list[Instant], as_of: str | None) -> Slices:
    done = [i for i in listing if i.state == "completed" and i.action in _DATA_ACTIONS]
    if as_of is not None:
        fence = _retention_fence(tl, listing)
        if fence is not None and as_of < fence:
            raise ValueError(
                f"cannot time travel to instant {as_of}: the cleaner retained "
                f"history only back to {fence} (KEEP_LATEST_COMMITS); earlier "
                "file slices are physically deleted"
            )
        done = [i for i in done if i.ts <= as_of]
        if not done:
            raise ValueError(f"no completed instant at or before {as_of!r} under {tl}")
    slices: Slices = {}
    for ins in done:
        for fid, path in _writes(_meta(tl, ins)):
            if ".log." in os.path.basename(path):
                cur, logs = slices.get(fid, (None, []))
                slices[fid] = (cur, logs + [path])
            else:
                slices[fid] = (path, [])
    return slices


def file_slices(base: str, as_of: str | None = None) -> Slices:
    """Each file group's latest slice at ``as_of`` (inclusive; None =
    latest), replayed from the completed instants, active and archived.
    Refuses an ``as_of`` before the cleaner's fence or with no completed
    instant at or before it."""
    tl = _timeline_dir(base)
    return _view(tl, _instants(tl), as_of)


def base_files(base: str, as_of: str | None = None) -> dict[str, str]:
    """fileId → base file of each latest slice: a copy-on-write table's state."""
    return {fid: b for fid, (b, _) in file_slices(base, as_of).items() if b is not None}


def snapshot(base: str) -> tuple[frozenset[str], Slices]:
    """(read, latest file slices) from one listing: what a read-dependent
    writer plans against and hands to ``commit``. The read is the set of
    instants the listing saw completed — an instant pending at the read
    is not in it, whenever it completes."""
    tl = _timeline_dir(base)
    listing = _instants(tl)
    seen = frozenset(i.ts for i in listing if i.state == "completed")
    return seen, _view(tl, listing, None)


# ----------------------------------------------------------------- commit


def _inflight_name(ts: str, action: str) -> str:
    return f"{ts}.inflight" if action == "commit" else f"{ts}.{action}.inflight"


@contextmanager
def _locked(tl: str):
    """Hold the timeline's ``flock``; closing the descriptor releases it."""
    fd = os.open(os.path.join(tl, "lock"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        os.close(fd)


def _release(tl: str, ts: str, action: str) -> None:
    for name in (_inflight_name(ts, action), f"{ts}.requested"):
        with suppress(FileNotFoundError):
            os.remove(os.path.join(tl, name))


def _claim(tl: str, instant: str | None) -> str:
    """Claim ``instant`` (None: the next one) by exclusively creating its
    ``.requested`` file; a taken name moves on to the next instant."""
    while True:
        ts = instant or _next_instant(tl)
        try:
            open(os.path.join(tl, f"{ts}.requested"), "x").close()  # O_CREAT | O_EXCL
        except FileExistsError:
            if instant is not None:
                raise CommitConflict(f"instant {ts} is taken under {tl}") from None
            continue
        if next(i for i in _instants(tl) if i.ts == ts).state == "requested":
            return ts
        # another writer completed ts (dropping its claim) after we chose it
        os.remove(os.path.join(tl, f"{ts}.requested"))
        if instant is not None:
            raise CommitConflict(f"instant {ts} is taken under {tl}")


def _complete(tl: str, ts: str, action: str, meta: dict) -> None:
    """Publish ``<ts>.<action>`` by atomic rename and drop the claim."""
    tmp = os.path.join(tl, f".tmp-{ts}.{action}")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(tl, f"{ts}.{action}"))
    _release(tl, ts, action)


def _begin(tl: str, action: str, instant: str | None) -> str:
    ts = _claim(tl, instant)
    open(os.path.join(tl, _inflight_name(ts, action)), "w").close()
    return ts


def begin(base: str, action: str, instant: str | None = None) -> str:
    """Claim an instant for ``action`` and mark it inflight — the state a
    writer that died mid-write leaves behind."""
    return _begin(_timeline_dir(base), action, instant)


def commit(
    base: str,
    build: Callable[[str], list[tuple[str, str]]],
    *,
    action: str,
    operation: str,
    read: frozenset[str] | None = None,
    instant: str | None = None,
) -> str | None:
    """Claim an instant (``instant`` pins it), mark it inflight, and let
    ``build(instant)`` write data files named by it and return the
    (fileId, path) pairs written; then complete ``action`` under the
    timeline lock. Returns the instant, or None when nothing was written.

    ``read`` (``snapshot``'s) marks a read-dependent write: if a data
    instant the read did not see completed and wrote one of the same
    file groups, the write deletes its files and claim and raises
    ``CommitConflict``. That covers an instant completed after the read,
    and one pending at the read that completed at any time after."""
    tl = _timeline_dir(base)
    ts = _begin(tl, action, instant)
    try:
        written = build(ts)
    except BaseException:
        _release(tl, ts, action)
        raise
    if not written:
        _release(tl, ts, action)
        return None
    stats = [{"fileId": fid, "path": path} for fid, path in written]
    meta = {"partitionToWriteStats": {"": stats}, "operation": operation}
    with _locked(tl):
        for ins in _instants(tl) if read is not None else []:
            if (
                ins.state == "completed"
                and ins.action in _DATA_ACTIONS
                and ins.ts not in read
            ):
                hit = {f for f, _ in written} & {f for f, _ in _writes(_meta(tl, ins))}
                if hit:
                    for _, path in written:
                        with suppress(FileNotFoundError):
                            os.remove(os.path.join(base, path))
                    _release(tl, ts, action)
                    raise CommitConflict(
                        f"concurrent commit: instant {ins.ts} under {tl} wrote "
                        f"file groups {sorted(hit)} that its read did not "
                        "see; recompute"
                    )
        _complete(tl, ts, action, meta)
    return ts


# --------------------------------------------------------- table services


def slice_history(base: str) -> dict[str, dict[str, str]]:
    """fileId → {instant → base file} for every base file a completed
    instant wrote and no clean has deleted: what the cleaner chooses
    from."""
    tl = _timeline_dir(base)
    done = [i for i in _instants(tl) if i.state == "completed"]
    gone = {p for i in done if i.action == "clean" for p in _meta(tl, i)["deleted"]}
    out: dict[str, dict[str, str]] = {}
    for ins in done:
        if ins.action in _DATA_ACTIONS:
            for fid, path in _writes(_meta(tl, ins)):
                if ".log." not in os.path.basename(path) and path not in gone:
                    out.setdefault(fid, {})[ins.ts] = path
    return out


def hudi_clean(base: str, retain_commits: int) -> dict:
    """KEEP_LATEST_COMMITS cleaner (module docstring of ``surface52``).
    Returns the metadata of the ``.clean`` instant it completes."""
    if retain_commits < 1:
        raise ValueError("retain_commits must be >= 1")
    tl = _timeline_dir(base)
    commits = _completed_commits(tl)
    fence = commits[-min(retain_commits, len(commits))] if commits else None
    deleted: list[str] = []
    if fence is not None:
        for by_instant in slice_history(base).values():
            older = sorted(i for i in by_instant if i <= fence)
            for i in older[:-1]:
                deleted.append(by_instant[i])
                os.remove(os.path.join(base, by_instant[i]))
    meta = {
        "policy": "KEEP_LATEST_COMMITS",
        "retained": retain_commits,
        "earliestCommitToRetain": fence,
        "deleted": sorted(deleted),
    }
    ts = _claim(tl, None)
    with _locked(tl):
        _complete(tl, ts, "clean", meta)
    return meta


def hudi_archive_timeline(base: str) -> list[str]:
    """Archive the completed commits older than the retention fence
    (module docstring of ``surface52``); returns them."""
    tl = _timeline_dir(base)
    fence = _retention_fence(tl)
    if fence is None:
        raise ValueError(
            "refusing to archive: no clean instant on the timeline — run "
            "the cleaner first so archived instants cannot describe the "
            "only copy of a live file slice"
        )
    with _locked(tl):
        # Crash-safe per instant: each .commit is removed only once its
        # archive line is durable. An instant both archived and active is
        # the aftermath of a crash between the two; finish its move
        # without appending a second line.
        already = {a["instant"] for a in _archived_instants(tl)}
        old = [i for i in _completed_commits(tl) if i < fence]
        os.makedirs(os.path.join(tl, "archived"), exist_ok=True)
        with open(os.path.join(tl, "archived", "commits.archived"), "a") as fh:
            for i in old:
                if i not in already:
                    with open(os.path.join(tl, f"{i}.commit")) as cfh:
                        line = {"instant": i, "action": "commit", "meta": json.load(cfh)}
                    fh.write(json.dumps(line) + "\n")
                    fh.flush()
                    os.fsync(fh.fileno())
                os.remove(os.path.join(tl, f"{i}.commit"))
    return [i for i in old if i not in already]
