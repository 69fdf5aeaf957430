"""CLI parity with the reference application.

Usage (mirrors ``bin/mr-wordc.o:main`` — ``.rodata+0x68``:
``mr-wordc <input> <output> [# mapper threads] [buffer size]``):

    python tools/wordcount_cli.py <input> <output> [threads] [buffer_size]

Defaults threads=1, buffer_size=1000 (``main+0x1a-0x28``). ``threads`` maps
to input partitions; ``buffer_size`` is accepted and ignored (Spark's
shuffle is spill-safe — there is nothing to size). Output is the exact
golden format: lines ``"%s, %d\\n"``, ascending byte-wise token order, empty
input → empty output; elapsed wall-clock is printed like the reference's
``Time = %f`` (``mapreduce.c:224``, microseconds).

Stderr contract mirrors the reference binary's ``.rodata`` strings byte for
byte (``Usage: ...``, ``ERROR: mr_create() cannot create mr instance.``,
``ERROR: mr_start() failed; (ret=%d).``, ``ERROR: mr_finish() failed;
(ret=%d).``), with each failure reported at the same stage boundary: a
missing input file surfaces from mr_start through its existence check (the
reference opens the input fd there; ``start`` itself is lazy and runs no
Spark job), while map failures and sink/write failures surface from
mr_finish, which runs the job (the reference's mr_finish returns the map
status, ``mapreduce.c:201-212``).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_framework_api_spark.compat.mapreduce import (
    mr_create,
    mr_destroy,
    wordcount_map,
    wordcount_reduce,
)

USAGE = "Usage: %s <input> <output> [# of mapper threads] [buffer size]"


def main(argv: list[str]) -> int:
    if len(argv) < 3:
        print(USAGE % argv[0], file=sys.stderr)
        return 1
    inpath, outpath = argv[1], argv[2]
    threads = int(argv[3]) if len(argv) > 3 else 1
    buffer_size = int(argv[4]) if len(argv) > 4 else 1000

    from mapreduce_framework_api_spark.session import get_spark

    spark = get_spark("mr-wordc", cpus=max(threads, 1))
    try:
        try:
            job = mr_create(
                wordcount_map, wordcount_reduce, partitions=threads, buffer_size=buffer_size
            )
        except Exception:
            print("ERROR: mr_create() cannot create mr instance.", file=sys.stderr)
            return 1
        try:
            if not os.path.exists(inpath):
                raise FileNotFoundError(inpath)
            job.start(spark, inpath)
        except Exception:
            print("ERROR: mr_start() failed; (ret=%d)." % -1, file=sys.stderr)
            return 1
        try:
            elapsed = job.finish(outpath)
        except Exception:
            print("ERROR: mr_finish() failed; (ret=%d)." % -1, file=sys.stderr)
            return 1
        print(f"Time = {elapsed * 1e6:.6f}")  # microseconds, like mapreduce.c:224
        mr_destroy(job)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
