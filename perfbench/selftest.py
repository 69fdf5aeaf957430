"""Self-test of the input generator: the same seed gives byte-identical
inputs, and another seed gives another corpus and query order.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

import gen
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(os.path.dirname(HERE), ".perfbench", f"selftest-{os.getpid()}")


def digest_tree(path: str) -> dict[str, str]:
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, path)] = hashlib.sha256(f.read()).hexdigest()
    return out


def generate(out: str, seed: int) -> dict:
    """Every input of every workload for ``seed``, as the benchmark writes
    them, plus the serving requests' query orders."""
    for workload in workloads.WORKLOADS:
        gen.write_inputs(workload, seed, out)
    with open(os.path.join(out, "order.txt"), "w") as f:
        f.write(repr(gen.query_orders(workloads.STORE_QUERIES, seed, workloads.SERVE_ROUNDS)))
    return digest_tree(out)


def main() -> int:
    try:
        a = generate(os.path.join(WORK, "a"), 7)
        b = generate(os.path.join(WORK, "b"), 7)
        c = generate(os.path.join(WORK, "c"), 8)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    problems = []
    if a != b:
        problems.append(f"seed 7 twice differs in {sorted(k for k in a if a[k] != b.get(k))}")
    for name in ("corpus.txt", "corpus-expected.txt", "order.txt"):
        if a[name] == c[name]:
            problems.append(f"seeds 7 and 8 give the same {name}")
    for p in problems:
        print(f"selftest: {p}", file=sys.stderr)
    print("selftest: ok" if not problems else "selftest: FAILED")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
