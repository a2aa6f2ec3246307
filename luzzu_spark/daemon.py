"""Python worker daemon that loads the plugin models before it forks.

Spark starts one daemon per executor (``spark.python.daemon.module``,
set in ``session.DEFAULT_CONFS``) and forks every Python worker from it.
Importing numpy, pandas, pyarrow and the plugin rules here, and building
the langid and perplexity tables, moves that cost from every worker's
first batch to once per daemon: forked workers inherit the loaded
modules and the tables copy-on-write (SNIPPETS.md §2's per-worker model
init, moved before the fork).
"""

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
from pyspark import daemon

from luzzu_spark.rules import langid, perplexity, plugins  # noqa: F401

if __name__ == "__main__":
    langid._tables()
    perplexity._model()
    daemon.manager()
