"""Session fixtures: the one store for state that queries share.

The reference materializes its master dataset once and every endpoint
reads it (etl/data_unifier.py → CSV, app.py reads). The in-session twin
is a fixture: a query INPUT built once per (SparkContext, fixture,
args) and read by every consumer. Queries reuse fixtures as inputs and
recompute their own results — no registered query returns a fixture's
payload (tests/test_plan_hygiene.py checks it by identity).

A fixture is declared by decorating its builder with a storage kind:

- ``blocks``: the built DataFrame is ``localCheckpoint(eager=False)``-ed.
  Its executor blocks stay live until the context stops (the store
  holds a strong reference, so the ContextCleaner never frees them).
  For bounded staging tables: bars, pair tables, parsed crawl pages.
- ``parquet``: the built DataFrame is written under a session workdir
  and the read-back DataFrame is memoised. For corpus-sized tables:
  they cost disk only, survive executor loss and give every consumer
  column pruning and predicate pushdown at the scan.
- ``dir``: the builder populates a fresh session workdir, passed as its
  last argument, and returns the path its callers receive. For staged
  ingest trees: snapshot tables, stream increments, written indexes.
- ``value``: the builder's return value is kept as it is: plain Python
  (document counts, BPE models) or unresolved Column trees, whose py4j
  handles die with the JVM.

Entries are keyed (applicationId, fixture name, args). The key uses
applicationId, not id(spark): a session object can be garbage-collected
and a new one allocated at the same address. A builder whose first
argument is a SparkSession keys on that session's context; any other
builder keys on the active context. One reentrant lock covers lookup,
build, insert and evict, so concurrent callers (the streaming thread
pools) see exactly one build; it is reentrant because builders call
other fixtures. Each access first evicts the entries of stopped
contexts and removes their disk trees; the trees still held at
interpreter exit are removed then.
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile
import threading

from pyspark import SparkContext
from pyspark.sql import SparkSession

KINDS = ("blocks", "parquet", "dir", "value")

# Executor storage (memory + disk) that every `blocks` fixture, built
# and materialized at sf0.001, may hold in one session. Bounded staging
# tables are a few MB there; a corpus-sized table landing as blocks
# would push past it — tests/test_plans.py enforces the ceiling.
BLOCKS_CEILING_BYTES = 64 << 20

_LOCK = threading.RLock()
# (applicationId, fixture name, args) -> (SparkContext, payload, tree);
# tree is the disk directory the entry owns, or None
_STORE: dict = {}


def _drop_dead() -> None:
    for key in [k for k, e in _STORE.items() if e[0]._jsc is None]:
        _remove_tree(_STORE.pop(key)[2])


def _remove_tree(tree: str | None) -> None:
    if tree is not None:
        shutil.rmtree(tree, ignore_errors=True)


@atexit.register
def _cleanup() -> None:
    with _LOCK:
        for _, _, tree in _STORE.values():
            _remove_tree(tree)
        _STORE.clear()


def _build(kind: str, build, name: str, args: tuple):
    """(payload, owned tree) of a freshly built fixture."""
    if kind == "blocks":
        return build(*args).localCheckpoint(eager=False), None
    if kind == "value":
        return build(*args), None
    tree = tempfile.mkdtemp(prefix=name.strip("_") + "_")
    try:
        if kind == "dir":
            return build(*args, tree), tree
        build(*args).write.mode("overwrite").parquet(f"{tree}/data")
        return args[0].read.parquet(f"{tree}/data"), tree
    except BaseException:
        shutil.rmtree(tree, ignore_errors=True)
        raise


def fixture(kind: str):
    """Declare the decorated builder a session fixture of `kind`.

    The returned accessor takes the builder's arguments (without the
    workdir for ``dir``) and hands out the per-session payload, building
    it on first use. `fixture_kind` on the accessor names its kind."""
    if kind not in KINDS:
        raise ValueError(f"unknown fixture kind {kind!r}; expected one of {KINDS}")

    def deco(build):
        name = f"{build.__module__}.{build.__qualname__}"

        @functools.wraps(build)
        def get(*args):
            if args and isinstance(args[0], SparkSession):
                sc, key_args = args[0].sparkContext, args[1:]
            else:
                sc, key_args = SparkContext._active_spark_context, args
            key = (sc.applicationId, name, key_args)
            with _LOCK:
                _drop_dead()
                entry = _STORE.get(key)
                if entry is None:
                    entry = (sc, *_build(kind, build, build.__name__, args))
                    _STORE[key] = entry
                return entry[1]

        get.fixture_kind = kind
        return get

    return deco


def session_cache_storage_bytes(spark: SparkSession) -> int:
    """Total bytes of persisted/checkpointed RDD blocks this session's
    executors hold (memory + disk): the accounting hook for ``blocks``
    fixtures. Corpus-sized tables land as ``parquet`` fixtures so this
    stays flat as the registry grows."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))
