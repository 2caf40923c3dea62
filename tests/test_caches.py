"""The per-session memo (ai_duckdb_spark/caches.py): key, stale-dir rule,
index registry, and the guard that keeps build-once state out of
module-level dicts."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

import ai_duckdb_spark.queries  # noqa: F401  (registers every index)
from ai_duckdb_spark import caches

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark(app_id: str = "app"):
    """A stand-in session: the memo reads only the application id."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_new_application_id_rebuilds():
    memo = caches.per_session(lambda spark, key: object())
    first = memo(_spark("app-1"), "sf")
    assert memo(_spark("app-1"), "sf") is first
    assert memo(_spark("app-2"), "sf") is not first


def test_extra_args_are_part_of_the_key():
    memo = caches.per_session(lambda spark, key, m=8: object())
    s = _spark()
    assert memo(s, "sf") is memo(s, "sf", 8) is memo(s, "sf", m=8)
    assert memo(s, "sf", 4) is not memo(s, "sf")
    assert memo(s, "other") is not memo(s, "sf")


@pytest.mark.parametrize("n_dirs", [None, 2], ids=["str", "tuple"])
def test_deleted_dir_is_rebuilt(tmp_path, n_dirs):
    builds = []

    def build(spark, key):
        dirs = [tmp_path / f"{len(builds)}_{i}" for i in range(n_dirs or 1)]
        for d in dirs:
            d.mkdir()
        builds.append(dirs)
        return tuple(map(str, dirs)) if n_dirs else str(dirs[0])

    memo = caches.per_session(build)
    first = memo(_spark(), "sf")
    assert memo(_spark(), "sf") == first and len(builds) == 1
    os.rmdir(builds[0][-1])
    assert memo(_spark(), "sf") != first and len(builds) == 2


def test_names_that_are_not_paths_are_kept():
    memo = caches.per_session(lambda spark, key: ("b_orders_x", object()))
    assert memo(_spark(), "sf") is memo(_spark(), "sf")


def test_clear_index_caches_empties_indexes_only(monkeypatch):
    monkeypatch.setattr(caches, "_INDEXES", {})
    index = caches.index("probe")(lambda spark, key: object())
    other = caches.per_session(lambda spark, key: object())
    index(_spark(), "sf")
    kept = other(_spark(), "sf")
    assert caches.clear_index_caches() == ["probe"]
    assert not index.memo and other(_spark(), "sf") is kept


def test_index_builders_names_every_index():
    assert set(caches.index_builders()) == set(caches._INDEXES) == {
        "minhash_core",
        "minhash_component_labels",
        "portable_minhash_pairs",
        "jaccard095_labels",
        "jaccard095_pairs",
        "ivf_quantizer",
        "ivf_persisted_index",
        "nndescent_graph",
        "pq_codebooks",
        "bpe_merges",
    }


def test_no_module_level_memo_outside_caches():
    """No module of the package holds a module-level empty dict, list or
    set (a hand-rolled memo), except caches.py and the catalog REGISTRY."""
    allowed = {"caches.py", os.path.join("queries", "catalog.py") + ":REGISTRY"}
    package = os.path.join(REPO, "ai_duckdb_spark")
    found = []
    for root, _, files in os.walk(package):
        for name in (f for f in files if f.endswith(".py")):
            rel = os.path.relpath(os.path.join(root, name), package)
            with open(os.path.join(root, name), encoding="utf-8") as f:
                tree = ast.parse(f.read())
            for stmt in tree.body:
                if not isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                    continue
                value = stmt.value
                empty = (
                    isinstance(value, ast.Dict) and not value.keys
                    or isinstance(value, ast.List) and not value.elts
                    or isinstance(value, ast.Call)
                    and isinstance(value.func, ast.Name)
                    and value.func.id in ("dict", "list", "set")
                    and not value.args
                    and not value.keywords
                )
                targets = getattr(stmt, "targets", None) or [stmt.target]
                for t in targets:
                    where = f"{rel}:{ast.unparse(t)}"
                    if empty and rel not in allowed and where not in allowed:
                        found.append(where)
    assert not found, found


_RESTART = """
import json, sys
sys.path.insert(0, {repo!r})
from ai_duckdb_spark.queries.extras_q import maintenance_compact_files, sink_bucketed_join
from ai_duckdb_spark.session import get_spark

def run():
    spark = get_spark(master="local[1]", shuffle_partitions=2)
    rows = [sorted(map(tuple, f(spark, {sf_dir!r}).collect()))
            for f in (sink_bucketed_join, maintenance_compact_files)]
    spark.stop()
    return rows

print(json.dumps([run(), run()], default=str))
"""


def test_entries_survive_a_session_restart(sf_dir, tmp_path):
    """Stop the session, start a new one in the same process: the sink
    and maintenance entries answer the same rows. A memo keyed on the
    corpus alone handed the new session table names that only the dead
    session's in-memory catalog knew (TABLE_OR_VIEW_NOT_FOUND)."""
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART.format(repo=REPO, sf_dir=sf_dir)],
        cwd=tmp_path,  # the managed tables' warehouse lands here
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    first, second = json.loads(proc.stdout.strip().splitlines()[-1])
    assert first == second and all(first)
