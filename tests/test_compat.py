"""MapReduce compatibility facade: lifecycle, generality, error paths."""

import random
import re
from collections import Counter

import pytest

from mapreduce_framework_api_spark.compat.mapreduce import (
    MapReduceJob,
    mr_create,
    wordcount_map,
    wordcount_reduce,
)


def test_lifecycle_and_result(spark, tmp_path):
    p = tmp_path / "in.txt"
    p.write_text("a b b\nc c c\n")

    def map_fn(idx, lines):
        for line in lines:
            for tok in line.split():
                yield tok, 1

    job = mr_create(map_fn, lambda a, b: a + b, partitions=4)
    job.start(spark, str(p))
    assert job.result() == [("a", 1), ("b", 2), ("c", 3)]


def test_custom_value_types(spark, tmp_path):
    """The reference moves opaque bytes — any picklable (k, v) works here."""
    p = tmp_path / "in.txt"
    p.write_text("x 1\ny 2\nx 3\n")

    def map_fn(idx, lines):
        for line in lines:
            k, v = line.split()
            yield k, (int(v), 1)  # (sum, count) pair

    def reduce_fn(a, b):
        return (a[0] + b[0], a[1] + b[1])

    job = MapReduceJob(map_fn, reduce_fn, partitions=2).start(spark, str(p))
    assert job.result() == [("x", (4, 2)), ("y", (2, 1))]


def test_finish_writes_formatted_sink(spark, tmp_path):
    p = tmp_path / "in.txt"
    p.write_text("b a b\n")
    out = tmp_path / "out.txt"
    job = mr_create(
        lambda i, ls: ((t, 1) for l in ls for t in l.split()), lambda a, b: a + b
    ).start(spark, str(p))
    elapsed = job.finish(str(out))
    assert out.read_text() == "a, 1\nb, 2\n"
    assert elapsed >= 0


def _mixed_corpus(n_lines: int, seed: int) -> str:
    """Lines of digit, upper-, lower- and mixed-case tokens joined by
    spaces, hyphens and apostrophes (the tokenizer's separators)."""
    rng = random.Random(seed)
    words = ["alpha", "Alpha", "ALPHA", "beta", "Beta", "x9", "9x", "007", "42", "Zeta", "zeta", "q"]
    seps = [" ", "-", "'", " - ", "' "]
    out = []
    for _ in range(n_lines):
        toks = [rng.choice(words) for _ in range(rng.randint(0, 12))]
        out.append("".join(t + rng.choice(seps) for t in toks) + "\n")
    return "".join(out)


@pytest.mark.parametrize("partitions, n_lines", [(8, 2000), (32, 0)])
def test_finish_sink_across_reducers(spark, tmp_path, partitions, n_lines):
    """With several reducers the sink still writes one globally sorted
    file, byte for byte what a single-threaded count produces; an empty
    input gives no rows and an empty file."""
    text = _mixed_corpus(n_lines, seed=7)
    p = tmp_path / "in.txt"
    p.write_text(text)
    out = tmp_path / "out.txt"
    want = sorted(Counter(re.findall(r"[A-Za-z0-9]+", text)).items())
    job = mr_create(wordcount_map, wordcount_reduce, partitions=partitions).start(spark, str(p))
    assert job.result() == want
    job.finish(str(out))
    assert out.read_bytes() == "".join("%s, %d\n" % kv for kv in want).encode()


def test_job_shape_one_job_two_stages(spark, tmp_path):
    """start() submits no Spark job; result() runs exactly one job of two
    stages (map with combine, then reduceByKey) — the sort happens at the
    sink, not in the lineage."""
    p = tmp_path / "in.txt"
    p.write_text(_mixed_corpus(500, seed=3))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "test-compat-job-shape"

    def group_jobs():
        # the status store is fed by the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return sorted(tracker.getJobIdsForGroup(group))

    sc.setJobGroup(group, "mr job shape")
    try:
        job = mr_create(wordcount_map, wordcount_reduce, partitions=32).start(spark, str(p))
        assert group_jobs() == []
        job.result()
        jobs = group_jobs()
    finally:
        sc._jsc.clearJobGroup()
    assert len(jobs) == 1
    assert len(tracker.getJobInfo(jobs[0]).stageIds) == 2


@pytest.mark.parametrize("partitions", [1, 32])
def test_map_error_fails_job(spark, tmp_path, partitions):
    """mr_finish propagates a nonzero map status as failure
    (``mapreduce.c:201-212``) — here a raising map_fn fails the job, and
    the failure surfaces when the job runs, not from the lazy start()."""
    p = tmp_path / "in.txt"
    p.write_text("boom\n")

    def bad_map(idx, lines):
        raise ValueError("map failure")
        yield  # pragma: no cover

    job = mr_create(bad_map, lambda a, b: a + b, partitions=partitions).start(spark, str(p))
    with pytest.raises(Exception):
        job.result()


def test_start_required_before_finish():
    job = mr_create(lambda i, ls: [], lambda a, b: a)
    with pytest.raises(RuntimeError):
        job.result()


def test_mr_destroy_releases_job(spark, tmp_path):
    """mr_destroy parity (mapreduce.h:139): after destroy, the instance
    holds no resources and cannot be reused — like the freed C struct."""
    import pytest

    from mapreduce_framework_api_spark.compat.mapreduce import (
        mr_create,
        mr_destroy,
        wordcount_map,
        wordcount_reduce,
    )

    inp = tmp_path / "in.txt"
    inp.write_text("a b a\n")
    job = mr_create(wordcount_map, wordcount_reduce, partitions=2)
    job.start(spark, str(inp))
    assert job.result() == [("a", 2), ("b", 1)]
    mr_destroy(job)
    assert job._rdd is None
    with pytest.raises(RuntimeError):
        job.result()


def test_cli_usage_matches_reference_bytes(capsys):
    """The CLI's usage line must be byte-identical to the reference
    binary's .rodata string (bin/mr-wordc.o). No Spark needed: the usage
    path exits before any session is built."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "wordcount_cli",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "wordcount_cli.py"),
    )
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)
    assert cli.USAGE == "Usage: %s <input> <output> [# of mapper threads] [buffer size]"
    rc = cli.main(["mr-wordc"])
    assert rc == 1
    assert (
        capsys.readouterr().err.strip()
        == "Usage: mr-wordc <input> <output> [# of mapper threads] [buffer size]"
    )


def test_second_and_third_apps_on_the_compat_surface(spark):
    """The mr_* facade is app-generic: the line-length histogram and token
    bigram apps (compat/apps.py) run unchanged through mr_create/start/
    result and match pure-Python references over the reference corpus."""
    import re

    from mapreduce_framework_api_spark.compat.apps import (
        bigram_map,
        count_reduce,
        linelen_map,
    )
    from mapreduce_framework_api_spark.compat.mapreduce import mr_create

    path = "/root/reference/input/mr-wordc/doc-0.txt"
    with open(path, encoding="utf-8", errors="surrogateescape") as f:
        lines = f.read().splitlines()

    got = dict(mr_create(linelen_map, count_reduce, partitions=8).start(spark, path).result())
    want: dict[int, int] = {}
    for line in lines:
        b = (len(line) // 10) * 10
        want[b] = want.get(b, 0) + 1
    assert got == want

    got2 = dict(mr_create(bigram_map, count_reduce, partitions=8).start(spark, path).result())
    tok = re.compile(r"[A-Za-z0-9]+")
    want2: dict[str, int] = {}
    for line in lines:
        ts = tok.findall(line)
        for a, b2 in zip(ts, ts[1:]):
            want2[f"{a} {b2}"] = want2.get(f"{a} {b2}", 0) + 1
    assert got2 == want2


def test_fourth_app_nonnumeric_reducer(spark):
    """The facade's reduce contract is any associative merge, not just
    numeric addition: the anagram app's values are capped sorted tuples
    (min-k set merge), and the Spark lane matches a pure-Python fold over
    the reference corpus."""
    import re

    from mapreduce_framework_api_spark.compat.apps import (
        _ANAGRAM_CAP,
        anagram_map,
        setmerge_reduce,
    )
    from mapreduce_framework_api_spark.compat.mapreduce import mr_create

    path = "/root/reference/input/mr-wordc/doc-0.txt"
    with open(path, encoding="utf-8", errors="surrogateescape") as f:
        text = f.read()

    got = dict(
        mr_create(anagram_map, setmerge_reduce, partitions=8)
        .start(spark, path)
        .result()
    )
    tok = re.compile(r"[A-Za-z0-9]+")
    want: dict[str, set] = {}
    for t in tok.findall(text):
        want.setdefault("".join(sorted(t.lower())), set()).add(t.lower())
    want_capped = {k: tuple(sorted(v))[:_ANAGRAM_CAP] for k, v in want.items()}
    assert got == want_capped
    # at least one genuine anagram class (two distinct tokens, same letters)
    assert any(len(v) > 1 for v in got.values())
