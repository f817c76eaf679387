"""The session-scoped memo (session.memo / session.forget) and the rule
that keeps it the package's only per-session state."""

from __future__ import annotations

import ast
import os
import pathlib
from types import SimpleNamespace

import duckdb
import pytest

from basis_spark import session
from basis_spark.io import TABLES
from basis_spark.operators import llm
from basis_spark.registry import ORACLES, QUERIES
from tests.conftest import SF_ORACLE, SF_SMALL, compare_frames


def _stub(app_id: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


class _Persisted:
    unpersisted = False

    def unpersist(self) -> None:
        self.unpersisted = True


@pytest.fixture
def fresh_memo(monkeypatch):
    """An empty memo for stub sessions; the real session's entries come
    back untouched afterwards."""
    monkeypatch.setattr(session, "_MEMO", {})
    return session._MEMO


def test_new_session_sees_none_of_the_old_entries(fresh_memo):
    a, b = _stub("app-a"), _stub("app-b")
    old = _Persisted()
    assert session.memo(a, "/data/sf1", "x", lambda: old) is old
    assert session.memo(b, "/data/sf1", "x", lambda: "rebuilt") == "rebuilt"
    assert list(fresh_memo) == ["app-b"]
    assert old not in fresh_memo["app-b"].values()
    # bound to a stopped context: dropped, never unpersisted
    assert not old.unpersisted


def test_trailing_slash_is_the_same_dir(fresh_memo):
    s = _stub("app-a")
    builds = []
    for d in ("/data/sf1", "/data/sf1/"):
        session.memo(s, d, "x", lambda: builds.append(d))
    assert len(builds) == 1


def test_forget_unpersists_only_the_named_entries(fresh_memo):
    s = _stub("app-a")
    x, y = _Persisted(), _Persisted()
    session.memo(s, "/data/sf1", "x", lambda: x)
    session.memo(s, "/data/sf1", "y", lambda: y)
    session.forget("x")
    assert x.unpersisted and not y.unpersisted
    assert session.memo(s, "/data/sf1", "y", lambda: "rebuilt") is y
    assert session.memo(s, "/data/sf1", "x", lambda: "rebuilt") == "rebuilt"


def test_minhash_index_is_shared_across_spellings_of_a_dir(spark):
    assert llm._minhash_bands(spark, SF_SMALL) is llm._minhash_bands(spark, SF_SMALL + "/")


def test_same_basename_fixture_dirs_keep_their_own_data(spark, tmp_path):
    """A second fixture dir with SF_ORACLE's basename but SF_SMALL's
    tables must not read the layout written for SF_ORACLE."""
    twin = tmp_path / os.path.basename(SF_ORACLE)
    twin.mkdir()
    for f in os.listdir(SF_SMALL):
        (twin / f).symlink_to(os.path.join(SF_SMALL, f))
    key = "scan_partition_pruning_dynamic"
    rows = {}
    for d in (SF_ORACLE, str(twin)):
        df = QUERIES[key](spark, d)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
        compare_frames(df, con, ORACLES[key], key=f"{key}@{d}")
        con.close()
        rows[d] = sorted(df.collect())
    assert rows[SF_ORACLE] != rows[str(twin)]


# Module-level mutable state the ratchet allows: the operator registry
# and the memo itself.
_ALLOWED_STATE = {
    ("registry.py", "QUERIES"),
    ("registry.py", "ORACLES"),
    ("session.py", "_MEMO"),
}


def _is_empty_container(node: ast.expr) -> bool:
    if isinstance(node, (ast.List, ast.Set)):
        return not node.elts
    if isinstance(node, ast.Dict):
        return not node.keys
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in ("dict", "set", "list")
        and not node.args
        and not node.keywords
    )


def _module_level(tree: ast.Module):
    """Statements outside any function body (class bodies included)."""
    todo = list(tree.body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        yield node
        todo.extend(ast.iter_child_nodes(node))


def test_no_module_level_state_outside_the_memo():
    pkg = pathlib.Path(session.__file__).parent
    found = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(pkg).as_posix()
        for node in ast.walk(tree):
            if isinstance(node, ast.Global):
                found.append(f"{rel}:{node.lineno} global {', '.join(node.names)}")
        for node in _module_level(tree):
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            if not _is_empty_container(value):
                continue
            for t in targets:
                name = ast.unparse(t)
                if (rel, name) not in _ALLOWED_STATE:
                    found.append(f"{rel}:{node.lineno} {name} = {ast.unparse(value)}")
    assert not found, (
        "per-session state belongs in session.memo, not module-level containers: "
        f"{found}"
    )
