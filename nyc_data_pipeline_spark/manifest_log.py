"""One versioned-manifest log behind every manifest chain in the engine.

The storage layer commits through JSON manifests on plain files instead
of a table-format jar or a metastore.  Every versioned artifact — MOR
and COW tables, WAP branches, IVM views, the maintained index lanes,
the transaction catalog — is a chain of files named

    {dir}/{prefix}{N}.json        N = 1, 2, 3, ...

where the prefix is a per-chain constant (`manifest-v`,
`manifest-{branch}-v`, `tidx-manifest-v`, `catalog-v`, ...).  The
commit protocol, stated once here:

- **Names.**  A version is parsed from a file name by a FULL match on
  `re.escape(prefix) + r"(\\d+)\\.json"`, never by prefix slicing:
  branch `verify`'s `manifest-verify-v3.json` starts with
  `manifest-v`, and temp files (`*.tmp`) or backups
  (`manifest-v3.json.bak`) share the prefix too.
- **Bytes.**  A manifest is `json.dump(obj, sort_keys=True)` — the same
  object always serializes to the same bytes.
- **Publish.**  Write to a temp file in the SAME directory, fsync, then
  `os.replace` into place: same-directory rename is atomic on POSIX,
  so a crash never leaves a torn manifest visible (`publish`).
- **Compare-and-swap.**  A concurrent writer publishes by link(2) from
  its writer-unique temp name instead: atomic, and EEXIST when another
  writer landed that version first — exactly one winner per version,
  every loser gets the named `CommitConflictError` and retries from a
  fresh read (`publish_once`).  This is the Iceberg snapshot-CAS
  analog on plain files.
- **Retained floor.**  Vacuum expires the versions below a floor but
  never the head (`expire`).  Loading a version below the floor (or in
  a reclaimed gap) raises the chain's named `RetentionError`
  subclass; a version above the head was never committed and is a
  `ValueError` — history is never silently substituted.

Lane policy (the MOR `pending_head` walk, branch names, reachability
sweeps, epoch ledgers) stays in each lane; this module only owns file
names, bytes and atomicity.
"""

from __future__ import annotations

import json
import os
import re
import tempfile


class RetentionError(RuntimeError):
    """The requested version existed but was reclaimed by a vacuum:
    it is below the chain's retained floor.  Each chain raises its own
    named subclass."""


class TimeTravelRetentionError(RetentionError):
    """`TIMESTAMP AS OF` landed outside the retained window: the
    requested timestamp precedes every RETAINED commit (either it
    predates the table, or vacuum reclaimed the manifests that owned
    it).  Delta/Iceberg raise for both; an un-resolvable timestamp
    must never silently serve a nearby version."""


class CommitConflictError(RuntimeError):
    """Two writers raced the same manifest version and this one lost.

    An EXCLUSIVE commit stages its artifacts under writer-unique names
    (`v{N}-{token}`, `dv-v{N}-{token}`) so concurrent stagers never
    touch the same files, then publishes version N through
    `ManifestLog.publish_once`.  Exactly one writer per version wins;
    every loser gets this error and must RETRY FROM A FRESH READ
    (re-derive N from the advanced chain and restage — `MorCdcSink`
    does this automatically).  Lanes also raise it from a pre-check
    when the conflict is already visible, saving the stage work.
    Loser/crashed stage directories are unreferenced by any manifest
    and are reclaimed by the lane's reachability sweep."""


def atomic_json_dump(obj, path: str) -> None:
    """Write a JSON file atomically: temp file in the same directory,
    fsync, `os.replace` into place.  Also used for the unversioned
    pointer files (epoch ledgers, vacuum records)."""
    d = os.path.dirname(path) or "."
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def atomic_json_publish_once(obj, path: str) -> None:
    """Like `atomic_json_dump`, but the final step is link(2), which
    fails with FileExistsError when `path` already exists.
    `ManifestLog.publish_once` resolves this through the module at call
    time, so a test can wrap it to open the read->publish race window
    deterministically."""
    d = os.path.dirname(path) or "."
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.link(tmp, path)  # atomic; EEXIST if another writer won
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass


class ManifestLog:
    """The chain `{dir}/{prefix}{N}.json`; `error` is the chain's named
    retention error."""

    def __init__(
        self, dir: str, prefix: str = "manifest-v",
        error: type[RetentionError] = RetentionError,
    ):
        self.dir = dir
        self.prefix = prefix
        self.error = error
        self._name_re = re.compile(re.escape(prefix) + r"(\d+)\.json")

    def path(self, v: int) -> str:
        return os.path.join(self.dir, f"{self.prefix}{int(v)}.json")

    def parse(self, name: str) -> int | None:
        """The version a file name carries, or None for any other file."""
        m = self._name_re.fullmatch(name)
        return int(m.group(1)) if m else None

    def versions(self, names: list[str] | None = None) -> list[int]:
        """Versions present (ascending).  `names` parses a listing the
        caller already took, so a lane can read several facts off ONE
        os.listdir snapshot."""
        if names is None:
            try:
                names = os.listdir(self.dir)
            except FileNotFoundError:
                return []
        return sorted(v for n in names if (v := self.parse(n)) is not None)

    def head(self) -> int:
        """Highest version present; 0 for an empty or missing chain."""
        return max(self.versions(), default=0)

    def exists(self, v: int) -> bool:
        return os.path.exists(self.path(v))

    def load(self, v: int | None = None) -> dict:
        """Load version `v` (the head when None).  Opens the file
        directly; only a missing file lists the directory, to tell a
        reclaimed version (the named retention error) from one never
        committed (`ValueError`)."""
        if v is None:
            v = self.head()
        try:
            with open(self.path(v)) as f:
                return json.load(f)
        except FileNotFoundError:
            pass
        vs = self.versions()
        if not vs or v < 1 or v > vs[-1]:
            raise ValueError(
                f"{self.path(v)} was never committed (chain head: "
                f"v{vs[-1] if vs else 0})"
            ) from None
        raise self.error(
            f"{self.path(v)} was reclaimed by vacuum (retained floor: "
            f"v{vs[0]}); history is readable only within the retained "
            "window"
        ) from None

    def publish(self, v: int, obj) -> None:
        """Publish version `v` atomically, replacing any previous file
        of that version (rerun-rewrites-the-same-version recovery)."""
        atomic_json_dump(obj, self.path(v))

    def publish_once(self, v: int, obj) -> None:
        """Compare-and-swap publish of version `v`: exactly one of any
        number of concurrent publishers wins; the others raise
        `CommitConflictError`."""
        try:
            atomic_json_publish_once(obj, self.path(v))
        except FileExistsError:
            raise CommitConflictError(
                f"{self.path(v)} was published by a concurrent writer; "
                "retry from a fresh read"
            ) from None

    def expire(self, below: int) -> list[int]:
        """Remove every version < `below` (ascending list returned).
        The head is never removed: `below` past the head is a
        `ValueError`."""
        vs = self.versions()
        if vs and below > vs[-1]:
            raise ValueError(
                f"expire({below}) would remove the head v{vs[-1]} of "
                f"{self.dir}"
            )
        removed = [v for v in vs if v < below]
        for v in removed:
            os.remove(self.path(v))
        return removed

    def as_of(self, ts_us: int) -> int:
        """`TIMESTAMP AS OF` → version: the LATEST retained commit whose
        wall-clock (`committed_at_us`, or timetravel's
        `_committed_at_us`) is <= `ts_us`.  A manifest whose
        `pending_head` has not landed (an in-flight or crashed WAP
        publish) is not a reader-visible commit and is skipped.
        O(#retained manifests) JSON reads.  Raises
        `TimeTravelRetentionError` when no retained commit is old
        enough (pre-table timestamps and vacuumed history alike)."""
        entries = []
        for v in self.versions():
            with open(self.path(v)) as fh:
                m = json.load(fh)
            if not isinstance(m, dict):
                continue
            head = m.get("pending_head")
            if head is not None and not self.exists(head):
                continue
            ts = m.get("_committed_at_us", m.get("committed_at_us"))
            if ts is not None:
                entries.append((int(ts), v))
        if not entries:
            raise TimeTravelRetentionError(
                f"{self.dir} has no retained timestamped commits; "
                "TIMESTAMP AS OF cannot resolve"
            )
        eligible = [(t, v) for t, v in entries if t <= ts_us]
        if not eligible:
            earliest = min(entries)
            raise TimeTravelRetentionError(
                f"TIMESTAMP AS OF {ts_us} precedes every retained commit "
                f"of {self.dir} (earliest retained: version "
                f"{earliest[1]} at {earliest[0]}); the history before it "
                "was never committed or was reclaimed by vacuum"
            )
        return max(eligible)[1]
