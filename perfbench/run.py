"""CDC engine benchmark: one workload per run, outputs checked.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A line starting with ``#`` before it gives sample counts
and the pass-by-pass numbers behind each median. See perfbench/README.md.
"""

import time

T_PROCESS = time.monotonic()  # setup_s counts from here

if __name__ == "__main__":
    import os
    import sys

    # the checkout root, in place of this directory: the package imports
    # as ``perfbench`` and its module names cannot shadow the standard library
    sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from perfbench.bench import main

    sys.exit(main(T_PROCESS))
