"""ManifestLog unit table, plus the guard that keeps every versioned
manifest chain in the package going through it."""

import ast
import json
import os
import re
from pathlib import Path

import pytest

from nyc_data_pipeline_spark.manifest_log import (
    CommitConflictError,
    ManifestLog,
    RetentionError,
    atomic_json_publish_once,
)


class _Gone(RetentionError):
    pass


def _chain(tmp_path, versions, extra=()):
    for v in versions:
        (tmp_path / f"manifest-v{v}.json").write_text(json.dumps({"v": v}))
    for name in extra:
        (tmp_path / name).write_text("{}")
    return ManifestLog(str(tmp_path), "manifest-v", _Gone)


def _fullmatch_parsing(tmp_path):
    log = _chain(tmp_path, [1, 2], extra=[
        "manifest-verify-v3.json", "manifest-v9.json.tmp",
        "tmpab12.tmp", "manifest-v3.json.bak", "catalog-v4.json",
    ])
    assert log.versions() == [1, 2]
    assert log.head() == 2
    assert ManifestLog(str(tmp_path), "manifest-verify-v").versions() == [3]


def _head_of_empty_dir(tmp_path):
    assert ManifestLog(str(tmp_path)).head() == 0
    assert ManifestLog(str(tmp_path)).versions() == []


def _head_of_missing_dir(tmp_path):
    log = ManifestLog(str(tmp_path / "absent"))
    assert log.head() == 0
    with pytest.raises(ValueError):
        log.load()


def _load_below_floor_and_above_head(tmp_path):
    log = _chain(tmp_path, [3, 4, 5])
    assert log.load(4) == {"v": 4}
    assert log.load() == {"v": 5}
    with pytest.raises(_Gone):
        log.load(2)
    with pytest.raises(ValueError):
        log.load(6)


def _publish_once_single_winner(tmp_path):
    log = ManifestLog(str(tmp_path))
    log.publish_once(1, {"w": "a"})
    with pytest.raises(CommitConflictError):
        log.publish_once(1, {"w": "b"})
    assert log.load(1) == {"w": "a"}
    assert os.listdir(tmp_path) == ["manifest-v1.json"]  # no temp left


def _expire_keeps_head(tmp_path):
    log = _chain(tmp_path, [1, 2, 3])
    assert log.expire(3) == [1, 2]
    assert log.versions() == [3]
    with pytest.raises(ValueError):
        log.expire(4)
    assert log.versions() == [3]
    assert log.expire(3) == []


@pytest.mark.parametrize("case", [
    _fullmatch_parsing,
    _head_of_empty_dir,
    _head_of_missing_dir,
    _load_below_floor_and_above_head,
    _publish_once_single_winner,
    _expire_keeps_head,
], ids=lambda f: f.__name__.lstrip("_"))
def test_manifest_log(case, tmp_path):
    case(tmp_path)


def test_publish_bytes_are_sorted_json(tmp_path):
    log = ManifestLog(str(tmp_path), "tidx-manifest-v")
    log.publish(2, {"b": 1, "a": [2]})
    assert (tmp_path / "tidx-manifest-v2.json").read_text() == (
        json.dumps({"b": 1, "a": [2]}, sort_keys=True)
    )
    atomic_json_publish_once({"z": 0}, str(tmp_path / "x.json"))
    assert (tmp_path / "x.json").read_text() == '{"z": 0}'


# --- guard: one choke point for manifest names -------------------------

_PKG = Path(__file__).resolve().parent.parent / "nyc_data_pipeline_spark"
_CHAIN = r"(?:manifest|catalog)"
# a versioned manifest/catalog file name, literal or formatted
_PATH_RE = re.compile(_CHAIN + r"[^/]*-v(?:\{\}|\d+)\.json")
# a regex over versioned manifest names
_REGEX_RE = re.compile(_CHAIN + r"[^/]*-v\(?\\d")


def _text(node) -> str:
    """String constants as written; f-string holes become `{}`."""
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "{}"
            for v in node.values
        )
    return node.value


def _docstrings(tree: ast.AST) -> set[int]:
    return {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(
            n, (ast.Module, ast.FunctionDef, ast.ClassDef,
                ast.AsyncFunctionDef)
        )
        and n.body and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }


def _violations(tree: ast.AST) -> list[str]:
    docstrings = _docstrings(tree)
    out = []
    for n in ast.walk(tree):
        if isinstance(n, ast.JoinedStr) or (
            isinstance(n, ast.Constant) and isinstance(n.value, str)
            and id(n) not in docstrings
        ):
            s = _text(n)
            if _PATH_RE.search(s) or _REGEX_RE.search(s):
                out.append(f"line {n.lineno}: {s!r}")
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, (ast.Name, ast.Attribute))
            and getattr(n.func, "id", getattr(n.func, "attr", ""))
            in ("len", "startswith")
            and n.args
            and isinstance(n.args[0], (ast.Constant, ast.JoinedStr))
            and re.search(_CHAIN + r".*-v$", _text(n.args[0]) or "")
        ):
            out.append(f"line {n.lineno}: prefix parse of "
                       f"{_text(n.args[0])!r}")
    return out


def test_manifest_names_only_in_manifest_log():
    """Only manifest_log.py may build a `...manifest-v{N}.json` /
    `catalog-v{N}.json` name or parse versions out of a listing:
    every other module goes through a ManifestLog."""
    bad = {}
    for path in sorted(_PKG.rglob("*.py")):
        if path.name == "manifest_log.py":
            continue
        v = _violations(ast.parse(path.read_text()))
        if v:
            bad[str(path.relative_to(_PKG))] = v
    assert not bad, bad


def test_guard_catches_hand_rolled_chains():
    src = '''
def latest(d):
    return max(int(f[len("tidx-manifest-v"):-len(".json")])
               for f in os.listdir(d) if f.startswith("tidx-manifest-v"))

def path(d, v):
    return os.path.join(d, f"catalog-v{v}.json")

PAT = re.compile(r"manifest-v(\\d+)\\.json")
OLD = "manifest-v3.json"
'''
    assert len(_violations(ast.parse(src))) == 5


# --- guard: one module knows the field-id manifest keys ----------------

_FIELD_ID_KEYS = {"commit_cols", "last_field_id"}


def _field_id_key_uses(tree: ast.AST) -> list[str]:
    docstrings = _docstrings(tree)
    return [
        f"line {n.lineno}: {n.value!r}"
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and n.value in _FIELD_ID_KEYS
        and id(n) not in docstrings
    ]


def test_field_id_keys_only_in_field_ids():
    """Only field_ids.py may read or write a manifest's `commit_cols`
    or `last_field_id`: every lane births, stamps and projects field
    ids through it."""
    bad = {}
    for path in sorted(_PKG.rglob("*.py")):
        if path.name == "field_ids.py":
            continue
        v = _field_id_key_uses(ast.parse(path.read_text()))
        if v:
            bad[str(path.relative_to(_PKG))] = v
    assert not bad, bad


def test_field_id_guard_catches_hand_written_stamp():
    src = '''
def commit(manifest, prev, schema, version):
    """Stamps commit_cols and last_field_id by hand."""
    manifest["last_field_id"] = max(f["id"] for f in schema)
    manifest["commit_cols"] = {
        **prev.get("commit_cols", {}),
        str(version): {str(f["id"]): f["name"] for f in schema},
    }
'''
    assert len(_field_id_key_uses(ast.parse(src))) == 3
