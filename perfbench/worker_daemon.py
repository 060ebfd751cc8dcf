"""PySpark's worker daemon, with the engine's Python stack imported once.

Spark forks every Python worker from this daemon (``spark.python.daemon.module``),
so a worker forked after a crashed or discarded one starts with numpy, pandas,
pyarrow and the engine's kernels already imported instead of paying 1-4 s of
imports inside whichever timed op needed it. That is the steady state of a
cluster's long-lived executors, which ``warm_python_workers`` aims at too.
"""

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
from pyspark import daemon

from raptor_rag_spark.kernels import (  # noqa: F401
    chunker,
    distances,
    embedder,
    geometry,
    gmm,
    grid,
    reduce,
    summarize,
    tokenizer,
)

if __name__ == "__main__":
    daemon.manager()
