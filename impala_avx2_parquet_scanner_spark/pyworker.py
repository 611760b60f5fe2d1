"""Engine code that runs inside a reused pyspark Python worker.

Every call a worker serves starts with pyspark's `setup_spark_files`,
which ends in `importlib.invalidate_caches()`.  On CPython 3.11 that
re-reads the zip directory of every `zipimport.zipimporter` in
`sys.path_importer_cache`, and a reused worker holds one per `pyspark.zip`
subpackage it has imported from (~17): ~0.25 s per call (MICROBENCH.md,
"The per-call import-cache refresh").  Engine entry points that run in a
worker are wrapped in `trims`, so a worker ends each call holding no
zipimporter and the next call's refresh has nothing to re-read.
"""

from __future__ import annotations

import functools
import inspect
import sys
import zipimport


def trim_import_cache() -> None:
    """Drop every zipimporter from `sys.path_importer_cache`.  The dict
    is only a cache: the next import that needs an entry rebuilds it from
    `sys.path_hooks`, and zipimport keeps the archive's parsed directory,
    so the rebuild reads nothing."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def trims(fn):
    """Decorator: `trim_import_cache()` when `fn` returns or raises; for
    a generator function, when the generator is exhausted, raises or is
    closed early.  The wrapper keeps `fn`'s signature, which pyspark
    inspects to tell grouped-map and scalar pandas UDFs apart."""
    if inspect.isgeneratorfunction(fn):

        @functools.wraps(fn)
        def call(*args, **kwargs):
            try:
                yield from fn(*args, **kwargs)
            finally:
                trim_import_cache()

    else:

        @functools.wraps(fn)
        def call(*args, **kwargs):
            try:
                return fn(*args, **kwargs)
            finally:
                trim_import_cache()

    call.__signature__ = inspect.signature(fn)
    return call
