"""Per-corpus caches must go through `memo.Memo` (keys embed mtime/appId,
so stale generations are never re-hit — and the FIFO cap frees them, where
an unbounded dict leaked DataFrames/Columns and their py4j objects on a
long-lived driver that regenerates corpora; only directory memos are
uncapped, see `memo`)."""

import ast
import os
import subprocess
import sys
import threading
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dcosb_cassandra_spark import memo
from dcosb_cassandra_spark.memo import Memo, corpus_gen

PKG = Path(__file__).resolve().parent.parent / "dcosb_cassandra_spark"

#: module-level empty containers that are NOT per-corpus caches: the query
#: and trigger/erasure registries, and the catalog's per-(app, sf_dir)
#: frame memo — it sits on every CQL read and is bounded by
#: TABLES + SERVING_MVS per (app, sf_dir), so a FIFO cap of 8 would evict
#: warm-cached frames.
ALLOWED = {
    "registry.REGISTRY",
    "cql_session.TRIGGER_CLASSES",
    "cql_session.ERASURE_TARGETS",
    "catalog._table_memo",
    "catalog._conf_pinned",
}


@pytest.fixture(autouse=True)
def _private_registry(monkeypatch):
    """This file's throwaway memos stay out of system_views.caches. The
    operator modules are imported first, so their memos register in the
    real list even when this file runs before anything else imports them."""
    from dcosb_cassandra_spark.registry import load_all

    load_all()
    monkeypatch.setattr(memo, "MEMOS", list(memo.MEMOS))


def _empty_container(node: ast.expr) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
        return node.func.id in ("dict", "set") and not node.args and not node.keywords
    return False


def test_memo_caps_and_keeps_newest():
    m = Memo("t_caps", cap=8)
    for i in range(20):
        m.put(("app", f"gen{i}"), i)
    assert len(m) == 8
    # newest generations survive, oldest are evicted (FIFO == oldest
    # generation first, since keys are generation-unique)
    assert m.get(("app", "gen19")) == 19
    assert m.get(("app", "gen12")) == 12
    assert m.get(("app", "gen11")) is None


def test_memo_without_cap_never_evicts():
    m = Memo("t_uncapped", cap=None)
    for i in range(20):
        m.put(("app", f"gen{i}"), i)
    assert len(m) == 20 and m.get(("app", "gen0")) == 0


def test_memo_rekey_keeps_one_entry():
    """A second value for a held key (a racing build) does not grow the
    memo: the first value stays, and the loser is released."""
    released = []
    m = Memo("t_rekey", cap=2, on_evict=released.append)
    assert m.put(("k",), "a") == "a"
    assert m.put(("k",), "b") == "a"
    assert len(m) == 1 and m.get(("k",)) == "a"
    assert released == ["b"]


def test_memo_eviction_callback_and_predicate():
    released = []
    m = Memo("t_evict", cap=2, on_evict=released.append)
    for k in ("x", "y", "z"):
        m.put((k, "dir1" if k != "y" else "dir2"), k.upper())
    assert released == ["X"]  # FIFO past cap releases the oldest
    assert m.evict(lambda k: k[1] == "dir1") == 1
    assert released == ["X", "Z"]
    assert len(m) == 1 and m.get(("y", "dir2")) == "Y"


def test_memo_counts_hits_and_builds_once():
    m = Memo("t_count")
    builds = []
    for _ in range(3):
        assert m.get_or_build("k", lambda: builds.append(1) or "v") == "v"
    assert builds == [1]
    assert (m.request_count, m.hit_count) == (3, 2)


def test_memo_concurrent_get_or_build_stays_bounded():
    """Many threads (more than cores) hammering overlapping keys: the
    memo never exceeds its cap and no request count is lost."""
    m = Memo("t_stress", cap=4)
    n_threads, n_iter = 2 * (os.cpu_count() or 2) + 2, 200
    errors = []

    def work(t):
        try:
            for i in range(n_iter):
                assert m.get_or_build((t + i) % 6, object) is not None
                assert len(m) <= 4
        except AssertionError as e:  # surfaced below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        ts = [threading.Thread(target=work, args=(t,)) for t in range(n_threads)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in ts)
    assert not errors
    assert m.request_count == n_threads * n_iter
    assert len(m) <= 4


def test_no_module_level_cache_dicts():
    """No module in the package keeps a module-level empty dict/set (the
    shape every hand-rolled cache took) outside the allowlist, and the old
    ad-hoc bounded insert is gone: every per-corpus cache is a Memo."""
    found = set()
    for path in PKG.rglob("*.py"):
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            if _empty_container(value):
                found |= {f"{mod}.{ast.unparse(t)}" for t in targets}
    assert found <= ALLOWED, sorted(found - ALLOWED)
    from dcosb_cassandra_spark import session

    assert not hasattr(session, "bounded_memo_put")


def _write_docs(path: Path, n: int) -> None:
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": [f"doc {i}" for i in range(n)],
                "lang": ["en"] * n,
                "source": ["web"] * n,
                "n_chars": pa.array([5] * n, pa.int64()),
            }
        ),
        str(path / "documents.parquet"),
    )


def test_chunk_stager_restages_rewritten_corpus(tmp_path):
    """The chunk stagers key on the corpus generation: after
    documents.parquet is rewritten, staging serves the NEW rows, not the
    chunks of the old file (DuckDB only — no Spark session)."""
    import duckdb

    from dcosb_cassandra_spark.operators.streaming_batch import (
        _stage_base_docs_chunks_dir,
    )

    def staged_rows() -> int:
        d = _stage_base_docs_chunks_dir(str(tmp_path))
        return duckdb.sql(f"SELECT count(*) FROM '{d}/*.parquet'").fetchone()[0]

    _write_docs(tmp_path, 40)
    assert staged_rows() == 30  # doc_id % 4 <> 0
    before = corpus_gen(str(tmp_path), "documents")
    _write_docs(tmp_path, 400)
    st = os.stat(tmp_path / "documents.parquet")
    os.utime(tmp_path / "documents.parquet", ns=(st.st_atime_ns, before[1] + 10**9))
    assert staged_rows() == 300


def test_staged_dirs_removed_at_exit(tmp_path):
    """Staged stream/chunk dirs are scratch: a process that stages them
    leaves nothing behind in the temp dir after it exits."""
    _write_docs(tmp_path, 40)
    code = (
        "import os, sys\n"
        "from dcosb_cassandra_spark.operators import streaming_batch as sb\n"
        "ds = [sb._stage_all_docs_chunks_dir(sys.argv[1]),\n"
        "      sb._stage_stream_dir(sys.argv[1], 'documents')]\n"
        "assert all(os.listdir(d) for d in ds)\n"
        "print('\\n'.join(ds))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path)],
        cwd=PKG.parent,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    ).stdout.split()
    assert len(out) == 2
    assert not any(os.path.exists(d) for d in out)


def test_erasure_eviction_does_not_need_the_index_dir_memo():
    """invalidate_index_caches finds the RAM index and kNN graph entries by
    the index dir in their keys — even when the dir memo holds no entry
    for that corpus — and releases their executor blocks."""
    from dcosb_cassandra_spark.operators import llm_similarity as sim

    class Blocks:
        unpersisted = False

        def unpersist(self):
            self.unpersisted = True

    idx = "/nonexistent/ivf3_evict_probe"
    ram, graph = Blocks(), Blocks()
    sim._IVF_RAM.put(("app", "emb.parquet", 1, idx), ram)
    sim._KNN_GRAPHS.put(("app", "emb.parquet", 1, idx + "/"), (graph, {}))
    gen = sim._ERASURE_GEN[0]
    sim.invalidate_index_caches(idx)
    assert ram.unpersisted and graph.unpersisted
    assert sim._IVF_RAM.get(("app", "emb.parquet", 1, idx)) is None
    assert sim._ERASURE_GEN[0] == gen + 1
