"""One driver-or-executor fan-out for metadata-sized item lists.

Planning manifests, sniffing footers and collecting file stats all have
the same shape: a list of independent items (manifest or file paths), a
per-item read, and results the driver needs back as Python values. Few
items are cheapest on the driver; thousands should not serialize on it.
:func:`map_items` makes that choice in one place, with one threshold,
and ships the driver's FileIO to the executors so every site reads the
same storage on both sides (reference: the lazy per-manifest batches of
``iceberg_multi_file_list.cpp:437-498``). An executor fan-out is one job
of one wave: at most one task per core."""

from __future__ import annotations

import pickle
from typing import Callable, Iterable, Iterator, Optional

#: at most this many items are mapped on the driver; more fan out to
#: executors. Read at call time, so tests may patch it.
DRIVER_MAX = 64


def worker_io(*paths: str) -> Callable[[], None]:
    """A picklable no-argument function that, run in an executor Python
    worker, registers the driver's FileIO for each path's scheme (rebuilt
    from :meth:`FileIO.storage_options`, so vended credentials travel
    too). Local paths and IOs without a recipe install nothing, and the
    first path of a scheme that has a recipe wins. Call it only in
    workers: re-registering on the driver would replace the driver's own
    (possibly unshippable) IO."""
    from .io import (io_from_storage_options, parse_uri, register_io,
                     storage_options_for)

    recipes: dict[str, dict] = {}
    for p in paths:
        scheme = parse_uri(p)[0]
        if scheme and scheme not in recipes:
            opts = storage_options_for(p)
            if opts:
                recipes[scheme] = opts

    def install() -> None:
        for scheme, opts in recipes.items():
            register_io(scheme, io_from_storage_options(opts))

    return install


def on_executors(spark, n: int, io_path: str, *,
                 driver_max: Optional[int] = None) -> bool:
    """Whether :func:`map_items` runs ``n`` items on executors: a session
    is given, the count exceeds the threshold and the IO can be rebuilt
    in a worker. Makes no py4j call."""
    from .io import get_io

    limit = DRIVER_MAX if driver_max is None else driver_max
    return spark is not None and n > limit and get_io(io_path).shippable


def map_items(spark, items: list, fn: Callable[[Iterator], Iterable], *,
              io_path: str, threads: bool = False,
              driver_max: Optional[int] = None) -> Iterator:
    """Results of ``fn`` over ``items``, in input order.

    ``fn`` maps an iterator of items to an iterator of one result per
    item, so its setup (an unpickle, a bound filter) runs once per task.

    - **Driver** (``spark is None``, at most ``driver_max`` items —
      default :data:`DRIVER_MAX` — or an IO that cannot ship): ``fn`` runs
      once over all items, lazily as the results are consumed. With
      ``threads=True`` (I/O-bound footer reads) more than 4 items are
      mapped one at a time over a thread pool of up to 16. Nothing is
      pickled.
    - **Executors**: one ``parallelize → mapPartitions → collect`` job
      over at most ``defaultParallelism`` slices, so its tasks run as one
      wave and each task's fixed start-up cost is paid once per core, not
      twice. Each task installs
      the FileIO of ``io_path`` (:func:`worker_io`) and pickles each
      result to one blob; the driver unpickles the blobs in order and
      drops each one as it is consumed, so the collected bytes and the
      unpickled results never both exist in full."""
    if not on_executors(spark, len(items), io_path, driver_max=driver_max):
        if threads and len(items) > 4:
            from concurrent.futures import ThreadPoolExecutor

            def one(item):
                return next(iter(fn(iter((item,)))))

            with ThreadPoolExecutor(max_workers=min(16, len(items))) as ex:
                return iter(list(ex.map(one, items)))
        return iter(fn(iter(items)))

    install = worker_io(io_path)

    def task(part):
        install()
        for result in fn(part):
            yield pickle.dumps(result, protocol=pickle.HIGHEST_PROTOCOL)

    sc = spark.sparkContext
    n_slices = min(len(items), sc.defaultParallelism)
    blobs = sc.parallelize(items, n_slices).mapPartitions(task).collect()
    blobs.reverse()

    def stream():
        while blobs:
            yield pickle.loads(blobs.pop())

    return stream()
