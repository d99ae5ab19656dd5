"""Stable field ids: the schema-evolution rule both table lanes share
(Iceberg's column-id rule, https://iceberg.apache.org/spec/
`last-column-id`).  Only this module reads or writes the three
manifest keys that carry it:

  schema         the live fields, `{"id", "name", "type"[, "default"]}`
  commit_cols    per commit version, the id->name map that commit's
                 files were written under
  last_field_id  the highest id the chain has EVER issued

Birth.  A chain's first commit numbers its columns 1..n
(`fresh_fields`); a compaction that rewrites a pre-id (legacy) chain
adopts ids the same way.

Stamp.  Every commit records the schema and its own id->name map
(`stamp`), carrying the earlier maps — or, on a compaction, which
rewrote every file under the current names, resetting them to its own.

Ratchet.  `last_field_id` never falls.  New ids come from
`field_id_hwm`, never from max(live ids)+1: a re-add that reused a
dropped max id would resolve by id onto the dropped column's stored
values in every pre-drop file — silent resurrection of dropped data.

Projection.  A read selects each field from a commit's files by the
name that commit stored for its id, casts it to the current type and
aliases it to the current name; a field the commit never stored reads
its default or a typed NULL (`project`).  So a rename is metadata, a
drop stops projecting, a widen casts on read.

The four ops (`add_column`, `rename_column`, `drop_column`,
`widen_column`) each publish ONE metadata-only commit through the
lane's log CAS (`evolve`): files are untouched, the per-commit keys
of the head (`columns_added`, `appended_buckets`, `compacted_from`)
are dropped, a concurrent writer of the same next version loses with
`CommitConflictError`, and a rerun after success fails loudly in the
op ("no column ...") instead of applying twice.

What each lane decides is data, its `Lane`: where its head is, which
log it publishes to, which compaction adopts ids for its legacy
chains, and which columns are protected (the MOR clustering key and
the reserved `version`; the COW cluster column).  The lanes keep
their own write-side guards and everything that is not the field-id
format.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F

from .manifest_log import ManifestLog

# per-commit manifest keys that describe the commit that wrote them,
# so an evolution commit never carries them forward (popping a key a
# lane never writes is a no-op)
_PER_COMMIT_KEYS = ("columns_added", "appended_buckets", "compacted_from")
_WIDENINGS = {("int", "bigint"), ("float", "double")}


class Lane(NamedTuple):
    """One table lane's evolution policy."""

    log: Callable[[str], ManifestLog]  # table_dir -> its main chain
    head: Callable[[str], int]  # table_dir -> reader-visible head
    compactor: str  # the compaction that adopts ids, named in errors
    # manifest -> {current name: what it is}: renamable, never dropped
    pinned: Callable[[dict], dict]
    # {name: what it is}: never renamed, dropped, or renamed onto
    reserved: dict = {}


def field_id_hwm(manifest: dict) -> int:
    """Highest field id a manifest chain has EVER issued (shared by
    both evolution lanes; the module doc has why allocation must start
    above it).  Reads the persisted `last_field_id` when the chain
    carries one; manifests written before the mark existed derive it
    from every id on record — the live schema plus the full
    `commit_cols` history (each version's id->name map still lists
    dropped ids)."""
    ids = [int(f["id"]) for f in manifest.get("schema") or []]
    for cols in (manifest.get("commit_cols") or {}).values():
        ids.extend(int(i) for i in cols)
    ids.append(int(manifest.get("last_field_id") or 0))
    return max(ids, default=0)


def fresh_fields(dtypes, after: int = 0) -> list[dict]:
    """Fields for `(name, type)` pairs with ids after..after+n: a
    chain's birth (`after=0`) or columns a commit adds
    (`after=field_id_hwm(prev)`)."""
    return [
        {"id": after + i + 1, "name": c, "type": t}
        for i, (c, t) in enumerate(dtypes)
    ]


def id_names(schema: list[dict]) -> dict[str, str]:
    """A schema's id->name map, keyed as `commit_cols` keys it."""
    return {str(f["id"]): f["name"] for f in schema}


def commit_names(manifest: dict, version) -> dict | None:
    """The id->name map commit `version` wrote its files under (None
    when the manifest records none for it)."""
    return manifest.get("commit_cols", {}).get(str(int(version)))


def pre_rename_names(manifest: dict) -> dict[int, str]:
    """Each live field's name immediately BEFORE its latest rename.
    Only the most recent pre-rename name counts: after a->b->c a fresh
    'a' is a legitimate new column, while 'b' is the signature of a
    producer exactly one schema behind."""
    live = {f["id"]: f["name"] for f in manifest["schema"]}
    history = manifest.get("commit_cols", {})
    guarded: dict[int, str] = {}
    for v in sorted(history, key=int, reverse=True):
        for fid, name in history[v].items():
            ifid = int(fid)
            if ifid in live and ifid not in guarded and name != live[ifid]:
                guarded[ifid] = name
    return guarded


def stamp(
    manifest: dict, prev: dict | None, schema: list[dict], version: int,
    reset: bool = False,
) -> None:
    """Record `schema` on `manifest` as commit `version`'s: the
    ratcheted id high-water mark and this commit's id->name map,
    carried after `prev`'s maps or, when `reset` (a compaction
    rewrote every file under current names), alone.  The mark is
    pinned even on a reset, which destroys the derive-from-history
    fallback."""
    prev = prev or {}
    manifest["schema"] = schema
    manifest["last_field_id"] = max(
        field_id_hwm(prev), max((int(f["id"]) for f in schema), default=0)
    )
    manifest["commit_cols"] = {
        **({} if reset else prev.get("commit_cols", {})),
        str(version): id_names(schema),
    }


def project(
    schema: list[dict], stored: dict | None, present, prefix: str = ""
) -> list[Column]:
    """One Column per field of `schema`, read from a commit whose
    files hold the columns `present`: the field's `stored` name (the
    commit's id->name map; None reads every field by its current
    name), cast to the current type, aliased to the current name; a
    field the commit never stored reads its default or a typed NULL.
    `prefix` names both sides of a pre_/post_ change-feed column."""
    out = []
    for f in schema:
        sn = stored.get(str(f["id"])) if stored is not None else f["name"]
        if sn is not None and prefix + sn in present:
            col = F.col(prefix + sn)
        else:
            col = F.lit(f.get("default"))
        out.append(col.cast(f["type"]).alias(prefix + f["name"]))
    return out


def evolve(lane: Lane, table_dir: str, mutate, evolution: dict) -> dict:
    """The metadata-commit shell: load the head, let `mutate(schema,
    manifest)` edit a copy of the schema (and the manifest) in place,
    publish the next version with files carried untouched."""
    log = lane.log(table_dir)
    version = lane.head(table_dir)
    m = log.load(version)
    if m.get("schema") is None:
        raise ValueError(
            f"{table_dir} predates field-id schemas; rename/drop/widen "
            f"need a compaction rewrite to adopt them ({lane.compactor} "
            "re-manifests under the current schema)"
        )
    schema = [dict(f) for f in m["schema"]]
    mutate(schema, m)
    from .sources.timetravel import commit_wallclock_us

    vnew = version + 1
    manifest = {
        **m,
        "version": vnew,
        "evolution": evolution,
        "committed_at_us": commit_wallclock_us(m.get("committed_at_us")),
    }
    if "columns" in m:  # the MOR lane's name audit trail
        manifest["columns"] = [f["name"] for f in schema]
    for k in _PER_COMMIT_KEYS:
        manifest.pop(k, None)
    stamp(manifest, m, schema, vnew)
    log.publish_once(vnew, manifest)
    return manifest


def _field(schema: list[dict], name: str) -> dict:
    for f in schema:
        if f["name"] == name:
            return f
    raise ValueError(
        f"no column {name!r} in current schema "
        f"{[f['name'] for f in schema]}"
    )


def add_column(
    lane: Lane, table_dir: str, name: str, col_type: str, default=None,
) -> dict:
    """Add a field with a fresh id and an optional `default` that
    every row written before the add reads (a projection-time literal;
    no file carries it)."""

    def mutate(schema: list[dict], m: dict) -> None:
        if any(f["name"] == name for f in schema):
            raise ValueError(f"cannot add {name!r}: name in use")
        fld = {"id": field_id_hwm(m) + 1, "name": name, "type": col_type}
        if default is not None:
            fld["default"] = default
        schema.append(fld)

    return evolve(
        lane, table_dir, mutate,
        {"op": "add", "column": name, "type": col_type, "default": default},
    )


def rename_column(lane: Lane, table_dir: str, old: str, new: str) -> dict:
    """Rename a field: it keeps its id and every file its written
    name.  A manifest `key` naming the field moves with it."""

    def mutate(schema: list[dict], m: dict) -> None:
        for r in (old, new):
            if r in lane.reserved:
                raise ValueError(
                    f"{r!r} is {lane.reserved[r]} and cannot be renamed "
                    f"(got {old!r} -> {new!r})"
                )
        if any(f["name"] == new for f in schema):
            raise ValueError(
                f"cannot rename {old!r} -> {new!r}: name in use"
            )
        _field(schema, old)["name"] = new
        if m.get("key") == old:
            m["key"] = new

    return evolve(
        lane, table_dir, mutate, {"op": "rename", "from": old, "to": new}
    )


def drop_column(lane: Lane, table_dir: str, name: str) -> dict:
    """Drop a field: its id leaves the schema, so no file's copy is
    projected again; time travel before the drop still reads it, and a
    re-add of the name is a fresh id."""

    def mutate(schema: list[dict], m: dict) -> None:
        if name in lane.reserved:
            raise ValueError(
                f"{name!r} is {lane.reserved[name]} and cannot be dropped"
            )
        pinned = lane.pinned(m)
        if name in pinned:
            raise ValueError(f"cannot drop the {pinned[name]} {name!r}")
        schema.remove(_field(schema, name))

    return evolve(lane, table_dir, mutate, {"op": "drop", "column": name})


def widen_column(
    lane: Lane, table_dir: str, name: str, new_type: str
) -> dict:
    """Widen a field's type (int->bigint/long, float->double): reads
    cast every file's copy up.  Narrowing or cross-family changes would
    need a rewrite to be loss-free and are rejected."""

    def mutate(schema: list[dict], m: dict) -> None:
        f = _field(schema, name)
        canon = {"long": "bigint"}
        cur = canon.get(f["type"], f["type"])
        if (cur, canon.get(new_type, new_type)) not in _WIDENINGS:
            raise ValueError(
                f"cannot widen {name!r} {f['type']} -> {new_type}: only "
                f"int->bigint and float->double are loss-free on read"
            )
        f["type"] = new_type

    return evolve(
        lane, table_dir, mutate,
        {"op": "widen", "column": name, "to": new_type},
    )
