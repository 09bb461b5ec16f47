"""The ``local[1]`` half of ``scaling.efficiency``, in a JVM of its own.

Usage: ``python3 scaling.py <corpus-dir> <tmp-root> <out-dir>``. Warms the
session up on one corpus file, then times one fused extraction pass over
the whole corpus into ``out-dir`` and prints ``{"wall_s": ...}``. Expects
the environment ``session.prepare_env`` sets up.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import session


def main(corpus: str, tmp_root: str, out: str) -> None:
    from wikicrawler_spark import kernel

    spark = session.start(tmp_root, 1, app="wcsbench-scaling")
    try:
        warm = os.path.join(tmp_root, "warm-corpus")
        os.makedirs(warm)
        first = sorted(f for f in os.listdir(corpus) if f.endswith(".parquet"))[0]
        shutil.copy(os.path.join(corpus, first), warm)
        kernel.extract_from_parquet(spark, warm).write.parquet(
            os.path.join(tmp_root, "warm-out"))
        t0 = time.monotonic()
        kernel.extract_from_parquet(spark, corpus).write.parquet(out)
        wall = time.monotonic() - t0
    finally:
        session.stop(spark)
    print(json.dumps({"wall_s": wall}))


if __name__ == "__main__":
    main(*sys.argv[1:4])
