"""Process-level memos for per-corpus plan fragments and durable artifacts.

The engine builds trained artifacts once per corpus generation and serves
them afterwards (IVF codebook and index, kNN graph, bigram LM, BPE merges,
GIF store, LSH candidate plans, staged stream directories). Every such
cache is a `Memo`, and every `Memo` keeps one contract:

- a value is a plan fragment (an immutable DataFrame or Column) or a
  durable artifact (trained weights, an index directory), never a query
  result: every action on a memoized frame still recomputes from parquet;
- a key carries the generation of everything the value was built from —
  the corpus files' ``(path, st_mtime_ns)`` from `corpus_gen`, the
  SparkContext's applicationId for values bound to a context, and every
  knob that changes the build — so a stale generation is never re-hit;
- eviction only ever rebuilds: past ``cap`` entries the OLDEST insertion
  is dropped (FIFO == oldest generation first, since keys are
  generation-unique), and the next lookup for it builds it again. A long-
  lived driver that regenerates corpora thereby frees dead DataFrames and
  their py4j objects instead of holding them forever.

Memos whose values are directories (the IVF index and GIF store dirs,
the DuckDB and symlink staging dirs) are uncapped (``cap=None``), since
for them FIFO eviction would do more than rebuild: erasure
(``maintenance.forget_vectors``) rewrites an IVF index dir in place, so a
rebuild from the corpus would serve erased vectors again; and every
rebuild of a scratch dir leaves one more full copy on disk. A held dir costs
the driver one path string; on disk the dirs grow with the number of
corpus generations a process sees, and scratch dirs are removed at exit.

Values that pin executor blocks (a `.cache()`d index frame, a
localCheckpointed graph) pass ``on_evict`` so eviction releases them.
Every `Memo` registers itself in `MEMOS`, which ``system_views.caches``
renders.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from typing import Any, Callable

#: every Memo ever constructed, in construction order
MEMOS: list[Memo] = []


class Memo:
    """A get-or-build map, FIFO-bounded at ``cap`` entries (None: no
    bound). Its lock guards only the dict and the
    counters — never a build — so two builds of different keys (or of
    different memos) overlap; a caller that must not build the same
    artifact twice at once serializes with its own per-kind lock. When
    two builds of one key race, the first value stored wins and the
    loser is released through ``on_evict``."""

    def __init__(
        self,
        name: str,
        cap: int | None = 8,
        on_evict: Callable[[Any], None] | None = None,
    ):
        self.name, self.cap, self.on_evict = name, cap, on_evict
        self.hit_count = self.request_count = 0
        self._d: dict = {}
        self._lock = threading.Lock()
        MEMOS.append(self)

    def __len__(self) -> int:
        with self._lock:  # `put` briefly holds cap + 1 entries
            return len(self._d)

    def get(self, key) -> Any:
        """The value held under ``key``, or None."""
        with self._lock:
            self.request_count += 1
            if key in self._d:
                self.hit_count += 1
                return self._d[key]
        return None

    def get_or_build(self, key, build: Callable[[], Any]) -> Any:
        """The value under ``key``, calling ``build()`` (unlocked) on a miss."""
        hit = self.get(key)
        return hit if hit is not None else self.put(key, build())

    def put(self, key, value) -> Any:
        """Store ``value`` under ``key`` unless a value is already held
        there, dropping the oldest entries past ``cap``; returns the
        value now held."""
        dropped = []
        with self._lock:
            held = self._d.setdefault(key, value)
            if held is not value:
                dropped.append(value)
            while self.cap is not None and len(self._d) > self.cap:
                dropped.append(self._d.pop(next(iter(self._d))))
        self._release(dropped)
        return held

    def evict(self, pred: Callable[[Any], bool]) -> int:
        """Drop (and release) every entry whose key satisfies ``pred``."""
        with self._lock:
            dropped = [self._d.pop(k) for k in [k for k in self._d if pred(k)]]
        self._release(dropped)
        return len(dropped)

    def clear(self) -> int:
        return self.evict(lambda _k: True)

    def _release(self, values: list) -> None:
        if self.on_evict is not None:
            for v in values:
                self.on_evict(v)


def corpus_gen(sf_dir: str, *tables: str) -> tuple:
    """Generation key of ``tables`` under ``sf_dir``: ``(path, st_mtime_ns)``
    per table, flattened — rewriting any of the files changes the key."""
    out: tuple = ()
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        out += (path, os.stat(path).st_mtime_ns)
    return out


def scratch_dir(prefix: str) -> str:
    """A fresh temp dir, removed at interpreter exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def artifact_dir(
    kind: str, sf_dir: str, mtime: int, build: Callable[[str], None]
) -> str:
    """Place and build one durable per-corpus artifact directory.

    With $SPARK_GRAFT_INDEX_DIR set the artifact is DURABLE: it lives
    under that root as ``{kind}_{sf tag}_{mtime}`` (the corpus mtime in
    the name, so a complete artifact for this generation is reused across
    processes instead of rebuilt) and is never deleted. Otherwise it is a
    `scratch_dir` removed at interpreter exit — right for tests and
    one-off sessions. ``build(out)`` writes the artifact into ``out``.

    Cross-process atomicity: the durable build goes into a pid-suffixed
    sibling and is renamed into place. POSIX rename onto an existing
    non-empty dir fails, so when two sessions race the loser discards
    its build and serves the winner's — readers never see a partial
    artifact under the durable name. Only a LOST RACE (a complete
    ``_SUCCESS``-marked artifact under the durable name) is swallowed;
    any other rename failure (permissions, read-only fs) propagates
    rather than discard the fresh build and point callers at a missing
    path."""
    root = os.environ.get("SPARK_GRAFT_INDEX_DIR")
    if not root:
        out = scratch_dir(f"dcosb_{kind}_")
        build(out)
        return out
    tag = os.path.basename(os.path.normpath(sf_dir))
    out = os.path.join(root, f"{kind}_{tag}_{mtime}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        tmp = f"{out}.build.{os.getpid()}"
        build(tmp)
        try:
            os.rename(tmp, out)
        except OSError:
            if not os.path.exists(os.path.join(out, "_SUCCESS")):
                raise
            shutil.rmtree(tmp, ignore_errors=True)
    return out
